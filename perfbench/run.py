"""sql2all_spark benchmark: one workload run, one JSON result line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload export_etl --seed 1 --seconds 10 --trace 0

Workloads (``workloads.py``, ``BENCHMARK.json``):

- ``export_etl``     ``export()`` over the source × sink matrix on lineitem
- ``sql_analytics``  relational registry queries written to parquet
- ``llm_operators``  LLM-pipeline registry ops written to parquet, warm

A run generates its inputs once per checkout under ``.perfbench/`` (cached;
the seed picks predicates, projections and op order, see ``datagen.py``),
computes the expected answers with DuckDB outside the timed region, then
starts a fresh worker process (``worker.py``) that sets up a session at
``local[nproc]``, warms up, and runs passes over the ops until
``--seconds`` have gone by.  Every output is read back and checked; an op
that raised or wrote a wrong answer counts as failed and the run goes on.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the
workload twice, untraced and then with spans and Spark's event log, plus
(``export_etl``) one cold CLI export, and prints the per-layer metrics
(``LAYERS.md``), including the tracing overhead.  The line before the
result holds the full run record: host, input sizes, per-op latencies,
errors and per-op layer counters; the same record is written to
``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------------ inputs

def prepare_data(scale: str) -> dict:
    """Generate (once per checkout) and return the data locations."""
    import datagen

    tiles = 10 if scale == "full" else 1
    root = os.path.join(WORK, "data", scale)
    done = os.path.join(root, "DONE")
    if not os.path.exists(done):
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.make_base(os.path.join(tmp, "base"), 0.001)
        big = os.path.join(tmp, "base")
        if tiles > 1:
            big = os.path.join(tmp, f"tile{tiles}")
            datagen.make_tiled(os.path.join(tmp, "base"), big, tiles)
        datagen.make_export_sources(
            os.path.join(big, "lineitem.parquet"), os.path.join(tmp, "export")
        )
        with open(os.path.join(tmp, "DONE"), "w") as f:
            f.write(os.path.basename(big))
        shutil.rmtree(root, ignore_errors=True)
        os.replace(tmp, root)
    with open(done) as f:
        big = os.path.join(root, f.read().strip())
    exp = os.path.join(root, "export")
    return {
        "llm_dir": os.path.join(root, "base"),
        "sql_dir": big,
        "export_dir": exp,
        "sources": {
            s: f"{s}://{os.path.join(exp, 'lineitem.' + s)}"
            for s in ("parquet", "csv", "sqlite", "arrow")
        },
        "master": os.path.join(exp, "lineitem.parquet"),
    }


def input_stats(paths: list[str]) -> dict:
    import pyarrow.parquet as pq

    rows = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
    return {"rows": rows, "bytes": sum(os.path.getsize(p) for p in paths)}


def registry_oracles(names: list[str], sf_dir: str) -> dict:
    """Expected digests per registry op, cached per data directory (the
    data never changes within a checkout; the seed only orders the ops)."""
    import check  # tools/check.py
    import duckdb
    import verify

    cache = os.path.join(sf_dir, "oracles")
    os.makedirs(cache, exist_ok=True)
    oracles = {}
    missing = []
    for n in names:
        p = os.path.join(cache, f"{n}.json")
        if os.path.exists(p):
            with open(p) as f:
                oracles[n] = json.load(f)
        else:
            missing.append(n)
    if missing:
        from sql2all_spark import registry
        from sql2all_spark.tables import TABLE_NAMES

        sql = registry.oracle_sql()
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for n in missing:
            cols, rows, sha = verify.registry_digest(
                check.frame_rows, con.execute(sql[n]).fetchdf()
            )
            oracles[n] = {"cols": cols, "rows": rows, "sha": sha}
            with open(os.path.join(cache, f"{n}.json"), "w") as f:
                json.dump(oracles[n], f)
    return oracles


# ------------------------------------------------------------------ worker

def spark_env() -> dict:
    # Temporary files go inside the checkout.  Spark's scratch dir is left
    # to the library's own choice (session._default_local_dir), which falls
    # back to Spark's default, java.io.tmpdir, set here too (LAYERS.md).
    # Every JVM (the launcher's and the driver's) gets the same tmpdir and
    # skips its /tmp/hsperfdata_<user> file.
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": (env.get("JAVA_TOOL_OPTIONS", "") + " " + java_opts).strip(),
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
    })
    return env


def run_worker(cfg: dict, tag: str) -> dict:
    run_dir = os.path.join(WORK, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    confs = {}
    if cfg["trace"]:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    cfg = dict(cfg, confs=confs, out_dir=os.path.join(run_dir, "out"),
               record=os.path.join(run_dir, "record.json"))
    cfg_path = os.path.join(run_dir, "config.json")
    cfg["t_spawn"] = time.time()
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
        cwd=ROOT, env=spark_env(), stdout=subprocess.DEVNULL,
        stderr=subprocess.PIPE, text=True, timeout=170,
    )
    if proc.returncode != 0:
        fail(f"worker exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    with open(cfg["record"]) as f:
        rec = json.load(f)
    rec["run_dir"] = run_dir
    if cfg["trace"]:
        import spans

        logs = [os.path.join(log_dir, p) for p in os.listdir(log_dir)]
        rec["layers"] = spans.fold(spans.parse_event_log(logs[0]), rec["spans"])
    return rec


def run_cli(op: dict, out: str, trace: bool, run_dir: str) -> dict:
    """One cold ``python -m sql2all_spark`` export, spawn to exit."""
    submit = []
    log_dir = os.path.join(run_dir, "cli-eventlog")
    if trace:
        os.makedirs(log_dir, exist_ok=True)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{log_dir}",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
    env = spark_env()
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "-m", "sql2all_spark", "-u", op["url"], "-q", op["sql"],
         "-o", out, "--master", f"local[{nproc()}]"],
        cwd=ROOT, env=env, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
        text=True, timeout=120,
    )
    res = {"op": "cli:" + op["id"], "out": out,
           "latency_s": time.perf_counter() - t0,
           "error": None if proc.returncode == 0 else proc.stderr.strip()[-300:]}
    if trace:
        import spans

        logs = [os.path.join(log_dir, p) for p in os.listdir(log_dir)]
        res["layers"] = spans.cli_counters(logs[0]) if logs else {}
    return res


# ------------------------------------------------------------------ checks

def check_outputs(results: list[dict], ops: dict, expect: dict, inject_corrupt) -> None:
    """Read back every output; set ``ok``/``rows``/``files``/``bytes``."""
    import pyarrow.dataset as ds
    import verify

    for r in results:
        op = ops[r["op"].removeprefix("cli:")]
        r["ok"] = False
        if r["error"]:
            continue
        if r["op"] == inject_corrupt:
            # tests: clobber a finished output before its check
            with open(verify._parts(r["out"])[0], "wb") as f:
                f.write(b"corrupted")
        exp = expect[op["id"]]
        try:
            if op["kind"] == "export":
                n, sha = verify.export_digest(r["out"], op["sink"], exp["kinds"])
                good = (n, sha) == (exp["rows"], exp["sha"])
            else:
                import check

                df = ds.dataset(verify._parts(r["out"]), format="parquet").to_table().to_pandas()
                cols, n, sha = verify.registry_digest(check.frame_rows, df)
                good = (cols, n, sha) == (exp["cols"], exp["rows"], exp["sha"])
            if not good:
                r["error"] = f"check: wrong output ({n} rows, expected {exp['rows']})"
        except Exception as e:  # an output that cannot be read back is wrong too
            r["error"] = f"check: unreadable output: {type(e).__name__}: {e}"[:300]
        if r["error"]:
            r["mismatch"] = True
            continue
        r["ok"] = True
        r["rows"] = n
        r["files"], r["bytes"] = verify.output_size(r["out"])


# ----------------------------------------------------------------- metrics

def tail(values: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it, and its
    value.  Below 22 samples no percentile at or above the median has ten
    beyond it, so the tail reported is the maximum (percentile 100)."""
    v = sorted(values)
    n = len(v)
    if n < 22:
        return 100.0, v[-1]
    return 100.0 * (n - 10) / n, v[n - 11]


def end_to_end(rec: dict, results: list[dict]) -> dict:
    lat = [r["latency_s"] for r in rec["ops"]]
    rows = sum(r.get("rows", 0) for r in rec["ops"])
    nbytes = sum(r.get("bytes", 0) for r in rec["ops"])
    pct, tail_v = tail(lat)
    attempted = len(results)
    failed = sum(not r["ok"] for r in results)
    rec["tail_percentile"], rec["op_samples"] = pct, len(lat)
    return {
        "setup_s": rec["setup_s"],
        "wall_s": statistics.median(rec["pass_wall_s"]),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_v,
        "rows_per_s": rows / sum(rec["pass_wall_s"]),
        "out_bytes_per_row": nbytes / max(rows, 1),
        "py_peak_rss_mb": rec["py_peak_rss_mb"],
        "ok_ratio": (attempted - failed) / attempted,
    }


def per_layer(rec: dict, untraced_wall: float, cli: dict | None) -> dict:
    totals: dict[str, float] = {}
    for r in rec["ops"]:
        d = dict(rec["layers"].get(r["uid"], {}))
        d["sinks.output_rows"] = r.get("rows", 0)
        d["sinks.output_files"] = r.get("files", 0)
        d["sinks.output_bytes"] = r.get("bytes", 0)
        d["sources.driver_rows"] = r.get("driver_rows", 0)
        r["layers"] = d
        for k, v in d.items():
            totals[k] = totals.get(k, 0) + v
    passes = rec["passes"]
    out = {k: v / passes for k, v in totals.items()}
    renamed = {
        "sources.wall_s": "sources.read_source_s",
        "operators.wall_s": "operators.build_s",
        "sinks.wall_s": "sinks.write_output_s",
        "export.wall_s": "export.export_s",
    }
    for a, b in renamed.items():
        out[b] = out.pop(a, 0.0)
    out["session.get_spark_s"] = rec["get_spark_s"]
    out["cache.storage_mb_after_op"] = max(r.get("storage_mb", 0.0) for r in rec["ops"])
    out["trace.overhead_s"] = statistics.median(rec["pass_wall_s"]) - untraced_wall
    if cli is not None:
        out["cli.cold_s"] = cli["latency_s"]
        out.update(cli.get("layers", {}))
    return out


# -------------------------------------------------------------------- main

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    # failure injection, for the benchmark's own tests
    ap.add_argument("--inject-raise", default=None, help=argparse.SUPPRESS)
    ap.add_argument("--inject-corrupt", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()

    load1 = os.getloadavg()[0]
    for need in ("sql2all_spark/__init__.py", "tools/gen_scale.py", "tools/check.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"run from the repository root: {need} not found under {ROOT}")
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {workloads.WORKLOADS}")
    os.makedirs(WORK, exist_ok=True)
    import duckdb
    import verify

    data = prepare_data(args.scale)
    ops_list = workloads.make_ops(args.workload, args.seed, data["sources"])
    ops = {op["id"]: op for op in ops_list}
    warm = workloads.make_warmup(args.workload, args.seed, ops_list, data["sources"])
    if args.workload == "export_etl":
        sf_dir = data["export_dir"]
        con = duckdb.connect()
        expect = {op["id"]: verify.oracle_export(con, data["master"], op["query"])
                  for op in ops_list}
        cli_op = ops["parquet->parquet"]
        inputs = input_stats([data["master"]])
    else:
        sf_dir = data["sql_dir" if args.workload == "sql_analytics" else "llm_dir"]
        expect = registry_oracles(list(ops), sf_dir)
        cli_op = None
        inputs = input_stats(
            [os.path.join(sf_dir, p) for p in os.listdir(sf_dir) if p.endswith(".parquet")]
        )

    cfg = {
        "workload": args.workload, "ops": ops_list, "seconds": args.seconds,
        "master": f"local[{nproc()}]", "sf_dir": sf_dir,
        "warmup": warm,
        "inject_raise": args.inject_raise, "trace": False,
    }
    tag = f"{args.workload}-s{args.seed}"
    records = os.path.join(WORK, "records")
    untraced_wall = None
    results: list[dict] = []
    if args.trace:
        # the untraced twin, run next to the traced one, for the overhead
        plain = run_worker(cfg, tag + "-plain")
        check_outputs(plain["ops"], ops, expect, None)
        results += plain["ops"]
        untraced_wall = statistics.median(plain["pass_wall_s"])
    rec = run_worker(dict(cfg, trace=bool(args.trace)), f"{tag}-t{args.trace}")
    results += rec["ops"]
    cli = None
    if args.trace and cli_op is not None:
        # the cold CLI is traced-run only: it costs a second JVM start
        out = os.path.join(rec["run_dir"], "cli-out", "cli.parquet")
        cli = run_cli(cli_op, out, True, rec["run_dir"])
        results.append(cli)
    check_outputs(rec["ops"] + ([cli] if cli else []), ops, expect, args.inject_corrupt)

    correct = not any(r.get("mismatch") for r in results)
    attempted = len(results)
    failed = sum(not r["ok"] for r in results)
    if args.trace:
        values = per_layer(rec, untraced_wall, cli)
    else:
        values = end_to_end(rec, results)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    # layers a workload does not exercise (no CLI, no source reader) read 0
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in declared}
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": {"nproc": nproc(), "load1_at_start": load1,
                 "contended": load1 > nproc() / 2, **rec.get("host", {})},
        "inputs": inputs,
        "passes": rec["passes"], "measured_s": rec["measured_s"],
        "wall_s": statistics.median(rec["pass_wall_s"]),
        "tail_percentile": rec.get("tail_percentile"),
        "op_samples": rec.get("op_samples"),
        "cli": cli and {k: cli[k] for k in ("latency_s", "error")},
        "ops": [{k: r.get(k) for k in ("op", "pass", "latency_s", "error", "rows",
                                       "bytes", "layers")} for r in rec["ops"]],
        "failures": sorted({f"{r['op']}: {r['error']}" for r in results if not r["ok"]}),
    }
    if args.trace:
        record["per_layer_all"] = values
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{tag}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(os.path.join(WORK, "runs"), ignore_errors=True)
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
