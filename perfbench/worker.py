"""One measured process: start a session, warm up, run the ops, record.

Launched by ``run.py`` as ``python3 perfbench/worker.py CONFIG.json`` from
the checkout root, so each workload run pays its own JVM start and its
peak RSS is the library's alone (input generation, oracles and output
checks happen in the parent).  Writes its record to ``config["record"]``.
"""

from __future__ import annotations

import importlib
import json
import os
import resource
import sys
import time


def cause(e: Exception) -> str:
    """One line of an exception: its first, or for an error raised in a
    Python worker the last line of the worker's traceback."""
    lines = [ln for ln in str(e).strip().splitlines() if ln.strip()] or [""]
    return lines[-1].strip() if "Python worker" in lines[0] else lines[0]


def main(cfg_path: str) -> int:
    with open(cfg_path) as f:
        cfg = json.load(f)
    sys.path.insert(0, os.getcwd())
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from spans import Tracer

    from sql2all_spark import registry
    from sql2all_spark.session import get_spark
    from sql2all_spark.sinks import write_output

    # the module, not the ``export`` function the package re-exports
    export_mod = importlib.import_module("sql2all_spark.export")

    t = time.perf_counter()
    spark = get_spark("perfbench", master=cfg["master"], extra_confs=cfg["confs"])
    get_spark_s = time.perf_counter() - t
    sc = spark.sparkContext
    tracer = Tracer(sc, enabled=cfg["trace"])
    builders = registry.queries() if cfg["workload"] != "export_etl" else {}
    current = {"op": ""}  # the op whose spans the export halves belong to
    driver_rows: dict[str, int] = {}

    if cfg["trace"]:
        # child spans for the two halves of export(), patched from outside
        def traced(fn, layer):
            def wrapper(*a, **kw):
                with tracer.span(current["op"], layer):
                    return fn(*a, **kw)
            return wrapper

        export_mod.read_source = traced(export_mod.read_source, "sources")
        export_mod.write_output = traced(export_mod.write_output, "sinks")

        # rows the driver-side readers (sqlite, arrow, avro fallback)
        # materialize: each hands its table to createDataFrame on the driver
        from pyspark.sql import SparkSession

        create_df = SparkSession.createDataFrame

        def counted(self, data, *a, **kw):
            if tracer.innermost() == "sources":
                op = current["op"]
                driver_rows[op] = driver_rows.get(op, 0) + len(data)
            return create_df(self, data, *a, **kw)

        SparkSession.createDataFrame = counted

    def run_op(op: dict, out: str, uid: str) -> None:
        if op["id"] == cfg.get("inject_raise"):
            raise RuntimeError("injected failure")
        if op["kind"] == "export":
            with tracer.span(uid, "export"):
                export_mod.export(spark, op["url"], op["sql"], out)
        else:
            with tracer.span(uid, "operators"):
                df = builders[op["id"]](spark, cfg["sf_dir"])
            with tracer.span(uid, "sinks"):
                write_output(df, out)

    def out_path(op: dict, tag: str) -> str:
        """Outputs go into the pass's directory, made before the pass, or
        for a ``fresh_dir`` op into a directory that does not exist yet."""
        name = op["id"].replace("->", "_to_")
        parent = os.path.join(cfg["out_dir"], tag)
        os.makedirs(parent, exist_ok=True)
        if op.get("fresh_dir"):
            parent = os.path.join(parent, name)
        return os.path.join(parent, f"{name}.{op['sink']}")

    for warm in cfg["warmup"]:
        run_op(warm, out_path(warm, "warmup"), "warmup")
    setup_s = time.time() - cfg["t_spawn"]
    tracer.spans.clear()

    results: list[dict] = []
    pass_walls: list[float] = []
    t_start = time.perf_counter()
    # whole passes until --seconds have gone by
    while not pass_walls or time.perf_counter() - t_start < cfg["seconds"]:
        n_pass = len(pass_walls)
        t_pass = time.perf_counter()
        for op in cfg["ops"]:
            uid = current["op"] = f"{n_pass}:{op['id']}"
            out = out_path(op, f"p{n_pass}")
            t0 = time.perf_counter()
            err = None
            try:
                run_op(op, out, uid)
            except Exception as e:  # a failed op is counted, never dropped
                err = f"{type(e).__name__}: {cause(e)[:300]}"
            rec = {"op": op["id"], "uid": uid, "pass": n_pass, "out": out,
                   "latency_s": time.perf_counter() - t0, "error": err}
            if cfg["trace"]:
                rec["driver_rows"] = driver_rows.get(uid, 0)
                infos = sc._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
                rec["storage_mb"] = sum(
                    i.memSize() + i.diskSize() for i in infos
                ) / 2**20
            results.append(rec)
        pass_walls.append(time.perf_counter() - t_pass)
    measured_s = time.perf_counter() - t_start
    rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    import pyarrow

    host = {
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),  # noqa: SLF001
        "pyarrow": pyarrow.__version__,
        "master": sc.master,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }
    spark.stop()
    # end the JVM (it exits on stdin EOF) and wait for it, so the run stops
    # every process it started before it reports
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc  # noqa: SLF001
    SparkContext._gateway.shutdown()  # noqa: SLF001
    jvm.stdin.close()
    jvm.wait(timeout=60)
    with open(cfg["record"], "w") as f:
        json.dump({
            "setup_s": setup_s,
            "get_spark_s": get_spark_s,
            "measured_s": measured_s,
            "passes": len(pass_walls),
            "pass_wall_s": pass_walls,
            "py_peak_rss_mb": rss_mb,
            "host": host,
            "ops": results,
            "spans": tracer.spans,
        }, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
