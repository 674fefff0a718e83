"""The workloads: which ops each runs, and what the seed decides.

``export_etl``, ``sql_analytics`` and ``llm_operators`` (``BENCHMARK.json``;
what each stresses is in ``LAYERS.md``).

An op is a plain dict so it crosses the process boundary to the worker as
JSON: ``{"id", "kind", ...}`` with ``kind`` either ``export`` (one
``export()`` call, source url + SQL + output path) or ``registry`` (one
registered builder whose result goes through ``sinks.write_output``).
"""

from __future__ import annotations

import random

# export_etl: the full source × sink matrix.  .lance is left out because
# its writer needs the pylance package, which the engine does not require.
EXPORT_SOURCES = ["parquet", "csv", "sqlite", "arrow"]
EXPORT_SINKS = ["parquet", "csv", "ndjson", "orc", "arrow", "avro"]

# The sqlite exports write into a directory that does not exist yet, as a
# CLI user's ``-o new_dir/out.<ext>`` does; every other output goes into
# the pass's existing directory.  Which ops meet a missing directory is
# then the same for every seed, not whichever op the seed puts first.
FRESH_DIR_SOURCE = "sqlite"

# Projection groups: every query projects the predicate column, the
# timestamp column and one seed-chosen column from each group, so each seed
# moves the same number of columns of the same types.  The columns keep
# lineitem's order (``LINEITEM_ORDER``), as a hand-written projection
# usually does; this also makes which export pairs fail the same for every
# seed (parquet->arrow and csv->arrow fail on a filtered projection in the
# source's column order, see ``LAYERS.md``).
PRED_COL = "l_quantity"
PROJ_FIXED = ["l_quantity", "l_shipdate"]
PROJ_GROUPS = [
    ["l_orderkey", "l_partkey", "l_suppkey"],
    ["l_extendedprice", "l_discount", "l_tax"],
    ["l_returnflag", "l_linestatus"],
    ["l_linenumber"],
]
LINEITEM_ORDER = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate",
]

# The relational and TPC-H registry queries but the warm-up one, plus
# the semi and anti joins: 22 ops, the fewest whose tail (the highest
# percentile with ten samples beyond it) sits above the median.
SQL_OPS = [
    "q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q10_returned_items",
    "tpch_q13_customer_distribution",
    "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier",
    "tpch_q17_small_quantity_revenue",
    "tpch_q18_large_volume_customers",
    "tpch_q19_disjunctive_revenue",
    "tpch_q21_suppliers_who_kept_waiting",
    "tpch_q22_dormant_customers",
    "join_multiway_revenue",
    "join_inner_fact_fact",
    "window_topk_per_group",
    "setop_intersect_except_all",
    "agg_cube_grouping",
    "join_semi",
    "join_anti",
]

# LLM-pipeline registry ops, chosen to reach the layers the other two
# workloads do not: looputil's loop-scoped shuffle width and tracked
# persists (cache) around a driver loop, and the Python boundary of
# pandas/Arrow UDFs.  One loop op and four cheap ones, so the median op
# always falls among the cheap ones.  Left out for run time (a warm run
# of 3-7 s each on 4 cores even at 500 documents, and a first run of
# 5-20 s in the untimed warm-up pass): the star-contraction and
# label-propagation cluster loops, and the training and ANN families.
LLM_OPS = [
    "text_sp_unigram_em",  # looputil scope, cache; functions.sp_core's pandas UDF
    "udf_pandas_readability",  # scalar pandas UDF
    "mm_decode_features",  # mapInPandas over Arrow batches
    "dedup_exact",  # functions.hashing
    "text_quality_score",
]

WORKLOADS = ("export_etl", "sql_analytics", "llm_operators")

# The untimed warm-up a worker runs before measuring (part of setup_s).
# The first jobs of a fresh session pay one-time costs (code generation
# and JIT of the scan/exchange/aggregate/write paths); a warm-up outside
# the pass takes them, so they do not land on whichever op the seed puts
# first.  export_etl (one export with a query of its own) and
# sql_analytics (one query kept out of the pass) then measure each op's
# first run in the process, as a batch job or a CLI user meets it.
# Warming every source and sink format first was tried: it cost 11-15 s of
# set-up per run on 4 cores, more than the run-time budget allows.
# None is one whole untimed pass, so the measured passes are warm: the LLM
# ops' first runs (driver loops above all) vary by tens of percent from
# run to run, their warm runs much less; a long-lived session running
# them repeatedly meets the warm ones.
WARMUP = {
    "export_etl": ["parquet->parquet"],
    "sql_analytics": ["tpch_q5_local_supplier_volume"],
    "llm_operators": None,
}


def export_query(rng: random.Random) -> dict:
    """Seeded projection + range predicate.  ``l_quantity`` holds the
    integers 1..50, so a 25-wide range keeps half the rows for every seed."""
    cols = PROJ_FIXED + [rng.choice(g) for g in PROJ_GROUPS]
    cols.sort(key=LINEITEM_ORDER.index)
    lo = rng.randint(1, 26)
    where = f"{PRED_COL} >= {lo} AND {PRED_COL} < {lo + 25}"
    return {"cols": cols, "where": where}


def export_sql(q: dict, table: str) -> str:
    return f"SELECT {', '.join(q['cols'])} FROM {table} WHERE {q['where']}"


def export_op(pair: str, q: dict, sources: dict[str, str]) -> dict:
    src, sink = pair.split("->")
    return {
        "id": pair,
        "kind": "export",
        "source": src,
        "sink": sink,
        "url": sources[src],
        "query": q,
        "sql": export_sql(q, "lineitem" if src == "sqlite" else "src"),
        "fresh_dir": src == FRESH_DIR_SOURCE,
    }


def make_ops(workload: str, seed: int, sources: dict[str, str] | None = None) -> list[dict]:
    """The workload's ops for one pass, in seed-permuted order."""
    rng = random.Random(f"{workload}:{seed}")
    if workload == "export_etl":
        ops = [export_op(f"{src}->{sink}", export_query(rng), sources)
               for src in EXPORT_SOURCES for sink in EXPORT_SINKS]
    elif workload == "sql_analytics":
        ops = [{"id": n, "kind": "registry", "sink": "parquet"} for n in SQL_OPS]
    elif workload == "llm_operators":
        ops = [{"id": n, "kind": "registry", "sink": "parquet"} for n in LLM_OPS]
    else:
        raise ValueError(f"unknown workload {workload!r}")
    rng.shuffle(ops)
    return ops


def make_warmup(workload: str, seed: int, ops: list[dict],
                sources: dict[str, str] | None = None) -> list[dict]:
    """The untimed warm-up ops (``WARMUP``); ``ops`` is the pass."""
    names = WARMUP[workload]
    if names is None:
        return ops
    if workload == "export_etl":
        rng = random.Random(f"warmup:{workload}:{seed}")
        return [dict(export_op(p, export_query(rng), sources), id="warmup-" + p)
                for p in names]
    return [{"id": n, "kind": "registry", "sink": "parquet"} for n in names]
