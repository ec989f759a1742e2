"""dashboard: a closed loop with one client running dashboard panels.

Each pass runs every panel once, in a new seeded shuffled order, and
fetches each panel's rows to the client (``toPandas``).  The panels are
voting-domain registry queries (operators/voting.py) over the sf0.1
events/customer/nation/region tables, loading 1 to 4 tables each.

Timeline: session start, pass 1 (cold; its end is ``setup_s``), warm-up
passes, then the whole passes that fit in ``seconds`` (at least one).  Every
panel's rows from the last timed pass are then checked against its
DuckDB oracle twin (oracles.SQL) with tools/check_parity.py's
normalization and value hash.  A traced run then alternates traced and
untraced passes for as long again (see spans.py).
"""

from __future__ import annotations

import random
import time
import traceback

from harness import pct, process_age_s, start_spark, state_store, stop_spark
from layers import layer_metrics

# Election-night panels: the headline tally, turnout by location,
# region, segment and the rollup, the hourly series, the hourly leader
# and the winner.
PANELS = [
    "votes_per_candidate",
    "turnout_by_location",
    "turnout_by_region",
    "turnout_by_segment",
    "turnout_rollup",
    "votes_per_candidate_hourly",
    "leading_candidate_per_hour",
    "election_winner",
]
TABLES = ("events", "customer", "nation", "region")
WARM_PASSES = 1


def _pass(spark, registry, order, data, tracer=None):
    """One pass; returns (per-panel latencies s, rows per panel (None
    for a failed query), failed queries)."""
    lat, rows, errors = [], {}, 0
    for name in order:
        t0 = time.perf_counter()
        try:
            if tracer is None:
                pdf = registry[name](spark, data).toPandas()
            else:
                with tracer.span("query"):
                    with tracer.span("operators.build"):
                        df = registry[name](spark, data)
                    with tracer.span("plans.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span("operators.exec"):
                        pdf = df.toPandas()
        except Exception:  # a failed request counts, the loop goes on
            traceback.print_exc()
            pdf = None
            errors += 1
        lat.append(time.perf_counter() - t0)
        rows[name] = pdf
        spark.catalog.clearCache()
    return lat, rows, errors


def _check(rows: dict, data: str) -> list[str]:
    """Panels whose rows differ from their DuckDB oracle twin (a failed
    query is counted where it failed)."""
    import os

    import duckdb

    from de_realtime_voting_spark.oracles import SQL
    from tools.check_parity import normalize, value_hash

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t)}.parquet'")
    bad = []
    for name, sdf in rows.items():
        if sdf is None:
            continue
        s, d = normalize(sdf), normalize(con.sql(SQL[name]).df())
        same = (
            len(s) == len(d)
            and list(s.columns) == list(d.columns)
            and [str(t) for t in s.dtypes] == [str(t) for t in d.dtypes]
            and value_hash(s) == value_hash(d)
        )
        if not same:
            bad.append(name)
    con.close()
    return bad


def _timed(spark, registry, rng, data, seconds):
    """Whole passes filling ``seconds``: another pass starts only if a
    pass as long as the last one still ends inside the window."""
    lat, pass_s, rows, errors = [], [], {}, 0
    t0 = time.perf_counter()
    while not pass_s or time.perf_counter() - t0 + pass_s[-1] <= seconds:
        order = PANELS[:]
        rng.shuffle(order)
        p0 = time.perf_counter()
        l, rows, e = _pass(spark, registry, order, data)
        pass_s.append(time.perf_counter() - p0)
        lat += l
        errors += e
    return lat, pass_s, rows, errors, time.perf_counter() - t0


def run(seed, seconds, trace, data, work, env):
    from de_realtime_voting_spark import queries

    rng = random.Random(seed)
    spark, start_s = start_spark()
    env["state_store"] = state_store(spark)
    try:
        registry = queries.QUERY_REGISTRY
        warm = []
        for i in range(1 + WARM_PASSES):
            order = PANELS[:]
            rng.shuffle(order)
            p0 = time.perf_counter()
            _pass(spark, registry, order, data)  # warm-up: not checked
            warm.append(time.perf_counter() - p0)
            if i == 0:
                setup_s = process_age_s()
        lat, pass_s, rows, errors, window = _timed(spark, registry, rng, data, seconds)
        bad = _check(rows, data)
        detail = {
            "panels": len(PANELS),
            "warm_pass_s": [round(x, 4) for x in warm],
            "pass_s": [round(x, 4) for x in pass_s],
            "queries": len(lat),
            "latency_p50_ms": pct(lat, 50) * 1e3,
            "latency_p90_ms": pct(lat, 90) * 1e3,
            "latency_p95_ms": pct(lat, 95) * 1e3,
            "queries_per_s": len(lat) / window,
            "setup_s": setup_s,
            "failed_queries": errors,
            "oracle_mismatches": bad,
        }
        metrics = {
            "latency_p50_ms": (detail["latency_p50_ms"], "ms"),
            "latency_p90_ms": (detail["latency_p90_ms"], "ms"),
            "throughput_per_s": (detail["queries_per_s"], "1/s"),
            "setup_s": (setup_s, "s"),
        }
        if trace:
            metrics, tdetail = _traced(spark, queries, rng, data, seconds, start_s)
            detail["trace"] = tdetail
    finally:
        stop_spark(spark)
    return {
        "correct": not bad and not errors,
        "attempted": len(lat),
        "failed": errors + len(bad),
        "metrics": metrics,
        "detail": detail,
    }


def _traced(spark, queries, rng, data, seconds, start_s):
    """Passes alternating traced / untraced for ``seconds`` (at least
    one of each).  A traced pass wraps the loads (the registry's
    ``load_table`` binding), the registry call, ``executedPlan`` and the
    fetch; the untraced ones give the overhead."""
    from spans import Tracer

    tracer = Tracer(spark)
    orig = queries.load_table

    def traced_load(spark_, sf_dir, name):
        with tracer.span("sources.load"):
            return orig(spark_, sf_dir, name)

    tracer.start_storage_poll()
    lat, plain, pass_s = [], [], []
    t0 = time.perf_counter()
    try:
        while len(pass_s) < 2 or time.perf_counter() - t0 + pass_s[-1] <= seconds:
            order = PANELS[:]
            rng.shuffle(order)
            traced = len(pass_s) % 2 == 0
            p0 = time.perf_counter()
            if traced:
                queries.load_table = traced_load
            try:
                l, _rows, _errors = _pass(spark, queries.QUERY_REGISTRY, order, data,
                                          tracer if traced else None)
            finally:
                queries.load_table = orig
            pass_s.append(time.perf_counter() - p0)
            (lat if traced else plain).extend(l)
    finally:
        peak = tracer.stop_storage_poll()
    r = tracer.rollup()
    n = len(lat)

    def per_q(layer, key):
        return r.get(layer, {}).get(key, 0.0) / n

    def all_q(key):  # every job of the query, wherever it ran
        return sum(per_q(layer, key) for layer in ("sources.load", "operators.build",
                                                   "operators.exec"))

    values = {
        "sources.load_calls": per_q("sources.load", "spans"),
        "sources.load_s": per_q("sources.load", "self_s"),
        "sources.load_jobs": per_q("sources.load", "jobs"),
        "operators.build_s": per_q("operators.build", "self_s"),
        "operators.build_jobs": per_q("operators.build", "jobs"),
        "plans.plan_s": per_q("plans.plan", "self_s"),
        "operators.exec_s": per_q("operators.exec", "self_s"),
        "operators.exec_jobs": per_q("operators.exec", "jobs"),
        "operators.exec_stages": per_q("operators.exec", "stages"),
        "operators.exec_tasks": per_q("operators.exec", "tasks"),
        "operators.shuffle_write_bytes": all_q("shuffle_write_bytes"),
        "operators.spill_bytes": all_q("spill_bytes"),
        "operators.storage_peak_bytes": peak,
        "functions.udf_rows": all_q("udf_rows"),
        "functions.udf_s": all_q("udf_s"),
        "session.start_s": start_s,
        "trace.unit_wall_s": per_q("query", "wall_s"),
        "trace.overhead_pct": (pct(lat, 50) / pct(plain, 50) - 1.0) * 100.0,
    }
    layer_sum = sum(values[k] for k in ("sources.load_s", "operators.build_s",
                                        "plans.plan_s", "operators.exec_s"))
    detail = {
        "traced_queries": n,
        "layer_sum_s": layer_sum,
        "traced_latency_mean_s": sum(lat) / n,
        "untraced_latency_mean_s": sum(plain) / len(plain),
        "pass_s": [round(x, 4) for x in pass_s],
        "rollup": r,
    }
    return layer_metrics(values), detail
