"""Batch workload: a fixed query mix in a closed loop with one client.

One first pass runs every query once, cold and in list order, and fetches
its rows to the Spark driver process (the cost a CLI ``query`` run pays;
the rows are verified later, outside the timing). Warm passes then run
the whole mix with a noop sink, each pass in its own seed-permuted order,
until the run's seconds are used (at least four warm passes). Each query
is timed as ``spark_fn`` (plan construction plus any eager driver
actions) and ``write``.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import statistics
import time

#: bench.py's HEADLINE list: one query per operator family.
HEADLINE = [
    "q_agg_group",
    "q_join_inner",
    "q_join_3way",
    "q_tpch_q3",
    "q_tpch_q10",
    "q_window_rank",
    "q_window_tumbling_batch",
    "q_topk",
    "q_json_get",
    "q_asof_join",
    "q_dedup_exact",
    "q_text_tokens",
    "q_cosine_topk",
    "q_embed_neardup",
    "q_minhash_neardup",
]
MIN_WARM_PASSES = 4
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def run(spark, sf_dir, names, seconds, seed, tracer, counters):
    """Time the first pass and the warm passes; returns the raw record.

    In a traced run every first-pass query is traced, and in the warm
    passes half the queries are, swapping halves from pass to pass, so
    each query has traced and untraced warm samples; the difference is
    the tracing overhead.
    """
    from real_time_data_anomaly_detection_spark.operators import REGISTRY
    from real_time_data_anomaly_detection_spark.plans.inspect import executed_file_scans

    rng = random.Random(seed)
    rec = {"first": {}, "passes": [], "errors": {}, "outputs": {}, "scans": {}, "counters": {}}
    t_begin = time.time()

    def one(name, tag, fetch, traced):
        group = f"{name}:{tag}"
        with tracer.span("query", request_id=group) as root:
            if traced:
                counters.set_group(group + ":spark_fn")
            with tracer.span("spark_fn", parent=root, request_id=group) as s_fn:
                t0 = time.time()
                df = REGISTRY[name].spark_fn(spark, sf_dir)
                t1 = time.time()
            if traced:
                counters.set_group(group + ":write")
            with tracer.span("write", parent=root, request_id=group) as s_wr:
                rows = df.collect() if fetch else df.write.format("noop").mode("overwrite").save()
                t2 = time.time()
        if traced:
            counters.clear_group()
            counters.drain()
            got = {}
            for sid, phase in ((s_fn, "spark_fn"), (s_wr, "write")):
                got[phase] = counters.totals(counters.job_ids(f"{group}:{phase}"))
                tracer.spans[sid].attrs.update(group=f"{group}:{phase}", **got[phase])
            if not fetch:
                rec["counters"].setdefault(name, []).append(got)
                if name not in rec["scans"]:
                    rec["scans"][name] = executed_file_scans(df)
        return t1 - t0, t2 - t1, (df.columns, rows) if fetch else None

    def guarded(name, tag, fetch, traced):
        try:
            return one(name, tag, fetch, traced)
        except Exception as ex:  # a failed query is counted, not fatal
            rec["errors"][f"{name}:{tag}"] = f"{type(ex).__name__}: {ex}"[:500]
            return None

    for name in names:  # the first pass keeps one order, so one query pays JVM warm-up
        res = guarded(name, "first", True, tracer.enabled)
        if res:
            rec["first"][name] = res[:2]
            rec["outputs"][name] = res[2]
    p = 0
    while p < MIN_WARM_PASSES or time.time() - t_begin < seconds:
        times = {}
        for name in rng.sample(names, len(names)):
            traced = tracer.enabled and (names.index(name) + p) % 2 == 0
            res = guarded(name, f"warm{p}", False, traced)
            if res:
                times[name] = (*res[:2], traced)
        rec["passes"].append(times)
        p += 1
    return rec


def canonical(cols, rows):
    """Order-insensitive value multiset, as the oracle gate compares it."""
    from tools.verify_oracle import rows_multiset

    return rows_multiset(cols, [tuple(r) for r in rows])


def digest(cols, rows) -> str:
    items = sorted((repr(k), v) for k, v in canonical(cols, rows).items())
    return hashlib.sha256(json.dumps(items).encode()).hexdigest()


def load_expected(sf: float) -> dict:
    with open(EXPECTED) as f:
        return json.load(f).get(f"sf{sf}", {})


def verify(outputs, sf_dir, expected) -> dict[str, str]:
    """Check every fetched result; returns {query: failure reason}.

    Queries with an oracle are compared with DuckDB over the same parquet
    files; rows-only queries with the row count and digest in ``expected``.
    """
    import duckdb

    from real_time_data_anomaly_detection_spark.operators import REGISTRY

    con = duckdb.connect()
    for t in sorted({f[:-8] for f in os.listdir(sf_dir) if f.endswith(".parquet")}):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    bad = {}
    for name, (cols, rows) in outputs.items():
        oracle = REGISTRY[name].oracle
        if oracle is None:
            want = expected.get(name)
            got = {"rows": len(rows), "sha256": digest(cols, rows)}
            if want != got:
                bad[name] = f"rows-only mismatch: got {got}, expected {want}"
            continue
        res = con.execute(oracle)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        if sorted(cols) != sorted(dcols):
            bad[name] = f"schema {sorted(cols)} vs oracle {sorted(dcols)}"
        elif canonical(cols, rows) != canonical(dcols, drows):
            bad[name] = f"values differ from the oracle ({len(rows)} vs {len(drows)} rows)"
    con.close()
    return bad


def _median_by_query(passes, key, traced=None):
    """Sum over queries of each query's median warm time (``key`` 0 =
    spark_fn, 1 = write), optionally over traced or untraced runs only."""
    per = {}
    for times in passes:
        for name, t in times.items():
            if traced is None or t[2] == traced:
                per.setdefault(name, []).append(t[key])
    return sum(statistics.median(v) for v in per.values())


def _best_by_query(passes):
    """Sum over queries of each query's fastest warm time (spark_fn + write)."""
    per = {}
    for times in passes:
        for name, t in times.items():
            per[name] = min(per.get(name, math.inf), t[0] + t[1])
    return sum(per.values())


def summarize(rec, names, bad, tracer) -> dict:
    """End-to-end metrics (all runs) and per-layer metrics (traced runs)."""
    full = [
        sum(a + b for a, b, _ in times.values())
        for times in rec["passes"]
        if len(times) == len(names)
    ]
    e2e = {
        "warm_pass_p50_s": (statistics.median(full) if full else math.nan, "s"),
        "warm_total_s": (
            _median_by_query(rec["passes"], 0) + _median_by_query(rec["passes"], 1),
            "s",
        ),
        "warm_best_total_s": (_best_by_query(rec["passes"]), "s"),
        "first_run_total_s": (sum(a + b for a, b in rec["first"].values()), "s"),
        "warm_passes": (len(rec["passes"]), "count"),
    }
    layer = {}
    if tracer.enabled:
        layer = {
            "operators.spark_fn_s": (_median_by_query(rec["passes"], 0, True), "s"),
            "operators.first_spark_fn_s": (sum(a for a, _ in rec["first"].values()), "s"),
            "exec.write_s": (_median_by_query(rec["passes"], 1, True), "s"),
            "exec.first_write_s": (sum(b for _, b in rec["first"].values()), "s"),
            "io.file_scans": (sum(rec["scans"].values()), "count"),
        }
        for metric, (phase, key, unit) in _PASS_COUNTERS.items():
            layer[metric] = (
                sum(
                    statistics.median(c[phase][key] for c in runs)
                    for runs in rec["counters"].values()
                ),
                unit,
            )
        both = [
            _median_by_query(rec["passes"], k, traced) for traced in (True, False) for k in (0, 1)
        ]
        e2e["trace_overhead_s"] = (both[0] + both[1] - both[2] - both[3], "s")
    detail = {
        name: {
            "first_s": rec["first"].get(name),
            "warm_s": [times.get(name) for times in rec["passes"]],
        }
        for name in names
    }
    return {
        "e2e": e2e,
        "layer": layer,
        "attempted": len(names) * (1 + len(rec["passes"])),
        "failed": len(rec["errors"]) + len(bad),
        "detail": detail,
    }


#: Per-layer counters of one warm pass, each query's median over its
#: traced runs, summed over queries: (phase, key, unit).
_PASS_COUNTERS = {
    "operators.spark_fn_jobs": ("spark_fn", "jobs", "count"),
    "exec.jobs": ("write", "jobs", "count"),
    "exec.stages": ("write", "stages", "count"),
    "exec.tasks": ("write", "tasks", "count"),
    "exec.executor_run_s": ("write", "executor_run_s", "s"),
    "exec.executor_cpu_s": ("write", "executor_cpu_s", "s"),
    "exec.gc_s": ("write", "gc_s", "s"),
    "exec.shuffle_write_bytes": ("write", "shuffle_write_bytes", "bytes"),
    "exec.shuffle_read_bytes": ("write", "shuffle_read_bytes", "bytes"),
    "exec.spill_bytes": ("write", "spill_bytes", "bytes"),
    "io.input_bytes": ("write", "input_bytes", "bytes"),
    "io.input_rows": ("write", "input_rows", "rows"),
}
