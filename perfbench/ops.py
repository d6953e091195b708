"""``operator_suite``: the ``__spark_entry__.queries()`` leaves over seeded
sf0.01-shaped tables, each checked against its DuckDB ``oracle_sql()``.

A run generates the tables and the oracle answers, then sets up: starts
Spark and its Python workers and runs every leaf once (the first run of a
leaf in a fresh JVM mostly measures class loading and JIT); that set-up
wall is ``setup_s``. It then times whole passes over LEAVES until
``--seconds`` have elapsed (at least MIN_PASSES). Each leaf is timed to
``collect()``: the rows of every execution, the cold one included, are
compared with the oracle, and at this table size every result is small.
(bench.py sinks large results to noop instead; a second, untimed
execution for the check does not fit a run.)
"""

from __future__ import annotations

import contextlib
import math
import os
import re
import time

from stats import geomean, median

# One leaf per operator family behind __spark_entry__ (text analysis,
# trends, streaming sessions, near-duplicate minhash, vector similarity,
# joins, JSON, anti-join). A full 38-leaf pass takes over 100 s in a fresh
# JVM on a 4-core host, which no run could afford. The BM25 leaves are left
# out: their in-session memo (_BM25_SCORES_CACHE) turns every execution
# after the first into a lookup; serve_mixed times BM25 through the engine.
LEAVES = (
    "token_counts", "moving_average", "sessionize", "minhash_signatures",
    "knn_cosine", "tpch_q3", "json_extract", "anti_join_dedup",
)
# Timed passes per run, at the least. The first pass after the cold one
# still pays JIT warm-up (its leaves run 10-25 % slower on a 4-core host),
# so the per-leaf median needs a third pass to stand on warm ones.
MIN_PASSES = 3
# the per-layer metrics a traced run of this workload must produce
LAYERS = tuple(f"operators.{n}_s" for n in LEAVES) + (
    "operators.exchanges", "operators.python_nodes",
    "operators.executor_run_s", "operators.shuffle_write_bytes",
    "operators.jobs")
_PY_NODES = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|PythonMapInArrow|"
    r"MapInArrow|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|"
    r"AggregateInPandas|WindowInPandas|FlatMapGroupsInArrow)\b")


def _normalize(rows, cols):
    """Order-insensitive fingerprint with the oracle-parity test's value
    normalization (columns by name, floats rounded to 6 places, -0.0
    folded)."""
    out = []
    for row in rows:
        vals = []
        for c in sorted(cols):
            v = row[c]
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else round(v, 6)
                if v == -0.0:
                    v = 0.0
            vals.append((c, v))
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


def _oracles(sf_dir: str) -> dict:
    import duckdb

    import __spark_entry__ as entry
    from tables import TABLES

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for name in LEAVES:
            cur = con.execute(sql[name])
            cols = [d[0] for d in cur.description]
            out[name] = (sorted(cols), _normalize(
                [dict(zip(cols, r)) for r in cur.fetchall()], cols))
        return out
    finally:
        con.close()


def _plan_counts(df) -> tuple[int, int]:
    """Exchange and Python-evaluation nodes in the initial physical plan
    (before adaptive re-planning, so the count is a property of the
    query, not of run-time statistics)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    text = plan.toString()
    exchanges = len(re.findall(r"\b(?:Exchange|BroadcastExchange)\b", text))
    return exchanges, len(_PY_NODES.findall(text))


def run(ctx) -> dict:
    import __spark_entry__ as entry
    from tables import write_tables

    tr = ctx.tracer
    sf_dir = os.path.join(ctx.work, "tables")
    write_tables(sf_dir, ctx.seed)
    expected = _oracles(sf_dir)

    # set-up: the session, its Python workers and the first (cold)
    # execution of every leaf
    t_setup0 = time.perf_counter()
    spark = ctx.start_spark("perfbench-ops")
    ctx.warm_workers()
    queries = entry.queries()
    results = {n: [] for n in LEAVES}  # (columns, rows) of every execution
    for name in LEAVES:
        df = queries[name](spark, sf_dir)
        results[name].append((df.columns, df.collect()))
    setup_s = time.perf_counter() - t_setup0

    samples = {n: [] for n in LEAVES}
    passes = []
    t_suite0 = time.time()
    deadline = time.perf_counter() + ctx.seconds
    while True:  # at least MIN_PASSES, then until the deadline
        t_pass = 0.0
        for name in LEAVES:
            span = (tr.span(f"operators.{name}") if tr is not None
                    else contextlib.nullcontext())
            t0 = time.perf_counter()
            with span:
                df = queries[name](spark, sf_dir)
                rows = df.collect()
            dt = time.perf_counter() - t0
            samples[name].append(dt)
            t_pass += dt
            results[name].append((df.columns, rows))
        passes.append(t_pass)
        if len(passes) >= MIN_PASSES and time.perf_counter() >= deadline:
            break
    t_suite1 = time.time()

    errors = []
    attempted = failed = 0
    exchanges = python_nodes = 0
    for name in LEAVES:
        exp_cols, exp_rows = expected[name]
        for i, (cols, rows) in enumerate(results[name]):
            attempted += 1
            got = _normalize([r.asDict() for r in rows], cols)
            if sorted(cols) != exp_cols or got != exp_rows:
                failed += 1
                errors.append(f"{name} execution {i}: {len(got)} rows vs "
                              f"oracle {len(exp_rows)}")
        if tr is not None:
            e, p = _plan_counts(queries[name](spark, sf_dir))
            exchanges += e
            python_nodes += p

    per_leaf = {n: median(v) for n, v in samples.items()}
    suite_s = median(passes)
    geo_s = geomean(per_leaf.values())
    # eight leaves give no percentile with ten samples beyond it, so the
    # tail of the suite is its slowest leaf
    slowest = max(per_leaf.values())
    e2e = {"setup_s": setup_s,
           "batch_per_s": len(LEAVES) / suite_s,
           "op_ms": 1000 * geo_s,
           "op_tail_ms": 1000 * slowest}
    named = {"operator_suite_s": (suite_s, "s"),
             "operator_geomean_s": (geo_s, "s"),
             "operator_slowest_leaf_s": (slowest, "s"),
             "operator_passes": (len(passes), "count")}
    layers = {f"operators.{n}_s": v for n, v in per_leaf.items()}
    info = {"leaves": list(LEAVES), "leaf_samples_s": samples}
    if tr is not None:
        layers["operators.exchanges"] = exchanges
        layers["operators.python_nodes"] = python_nodes
        ctx.stop_spark()  # flushes the event log
        from spans import attribute, read_event_log

        by_call = attribute(read_event_log(ctx.event_dir),
                            [("suite", t_suite0, t_suite1)]
                            + [(sp["name"], sp["t0"], sp["t1"])
                               for sp in tr.spans])
        att = by_call.pop("suite")
        layers["operators.executor_run_s"] = att["executor_run_s"]
        layers["operators.shuffle_write_bytes"] = att["shuffle_write_bytes"]
        layers["operators.jobs"] = att["jobs"]
        info["event_log"] = {"suite": att, "by_leaf_call": by_call}
        info["trace_file"] = ctx.write_trace(info)
    return {"correct": not errors, "attempted": attempted,
            "failed": failed, "errors": errors, "e2e": e2e,
            "layers": layers, "named": named, "info": info}
