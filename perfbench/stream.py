"""Stream workload: an open loop at a fixed offer through the detection pipeline.

``energy_rate_stream`` (the in-process rate source standing in for Kafka)
offers rows at a fixed rate and stamps each with its scheduled creation
time; ``build_detection_stream`` scores the per-plant last-500 window with
IsolationForest; ``to_foreach_batch`` hands each trigger's alerts to a
sink that fetches them and stamps the delivery wall time. Latency is
delivery time minus creation time, so it includes the wait for the
source and for earlier triggers. The first ``WARMUP_TRIGGERS`` triggers
(no rows yet, then the cold first scoring) are excluded; the steady
window then runs for the run's seconds.
"""

from __future__ import annotations

import datetime as dt
import math
import re
import statistics
import time

#: Reference parameters (window 500, warm-up 50, contamination 0.05, 1 s trigger).
WINDOW, CONTAMINATION = 500, 0.05
WARMUP_TRIGGERS = 2
START_TIMEOUT_S = 120.0

#: StreamingQueryProgress.durationMs phases, in the order a trigger runs them.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def run(spark, offer, seconds, seed, tracer, counters) -> dict:
    """Run the stream; returns deliveries, progress and liveness."""
    from pyspark.sql import functions as F

    from real_time_data_anomaly_detection_spark.streaming.generator import energy_rate_stream
    from real_time_data_anomaly_detection_spark.streaming.pipeline import build_detection_stream
    from real_time_data_anomaly_detection_spark.streaming.sinks import (
        stop_gracefully,
        to_foreach_batch,
    )

    deliveries: list[tuple[int, float, float, list]] = []

    def sink(df, batch_id):
        t_enter = time.time()
        rows = df.select(
            F.unix_micros("timestamp").alias("event_us"), "plant_type", "score", "is_anomaly"
        ).collect()
        deliveries.append((batch_id, t_enter, time.time(), rows))

    alerts = build_detection_stream(
        energy_rate_stream(spark, rows_per_second=offer, seed=seed),
        window_size=WINDOW,
        contamination=CONTAMINATION,
    )
    t_start = time.time()
    query = to_foreach_batch(alerts, sink)
    deadline = t_start + START_TIMEOUT_S
    while len(deliveries) < WARMUP_TRIGGERS and query.isActive and time.time() < deadline:
        time.sleep(0.02)
    if len(deliveries) < WARMUP_TRIGGERS:
        exc = query.exception()
        stop_gracefully(query)
        raise RuntimeError(f"stream produced no warm-up triggers: {exc}")
    window_start = deliveries[WARMUP_TRIGGERS - 1][2]
    while time.time() < window_start + seconds and query.isActive:
        time.sleep(0.02)
    alive = query.isActive
    run_id = str(query.runId)
    stop_gracefully(query)
    progress = list(query.recentProgress)  # read after stop: every finished trigger
    return {
        "t_start": t_start,
        "window_start": window_start,
        "window_end": window_start + seconds,
        "deliveries": list(deliveries),
        "progress": progress,
        "alive": alive,
        "run_id": run_id,
        "offer": offer,
    }


def _progress_start(p) -> float:
    ts = p["timestamp"].replace("Z", "+00:00")
    return dt.datetime.fromisoformat(ts).timestamp()


def verify(rec) -> tuple[int, int, list[str]]:
    """(alerts checked, alerts failed, reasons). Every alert needs a finite
    score, a known plant and an event time no later than its delivery; no
    plant may exceed the contamination share of its window in one trigger;
    the query must still be running at stop."""
    from real_time_data_anomaly_detection_spark.schemas import PLANT_FEATURES

    cap = math.floor(CONTAMINATION * WINDOW)
    attempted = failed = 0
    reasons = []
    for batch_id, _, t_done, rows in _steady(rec):
        per_plant: dict[str, int] = {}
        for r in rows:
            attempted += 1
            per_plant[r.plant_type] = per_plant.get(r.plant_type, 0) + 1
            if r.score is None or not math.isfinite(r.score):
                failed += 1
                reasons.append(f"batch {batch_id}: non-finite score")
            elif r.plant_type not in PLANT_FEATURES:
                failed += 1
                reasons.append(f"batch {batch_id}: unknown plant {r.plant_type!r}")
            elif r.event_us / 1e6 > t_done:
                failed += 1
                reasons.append(f"batch {batch_id}: event after its delivery")
        for plant, n in per_plant.items():
            if n > cap:
                failed += n
                reasons.append(f"batch {batch_id}: {n} alerts for {plant} > {cap}")
    if not rec["alive"]:
        reasons.append("stream query was not active at stop")
        failed = attempted = max(attempted, 1)
    if attempted == 0:
        reasons.append("no alerts in the steady window")
        attempted = failed = 1
    return attempted, failed, reasons[:20]


def _steady(rec):
    return [
        d
        for d in rec["deliveries"]
        if d[0] >= WARMUP_TRIGGERS and d[2] <= rec["window_end"] + 1e-3
    ]


def _slope(xs, ys) -> float:
    if len(xs) < 2:
        return 0.0
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    var = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / var if var else 0.0


def summarize(rec, tracer, counters) -> dict:
    """End-to-end metrics (all runs) and per-layer metrics (traced runs)."""
    steady = _steady(rec)
    first = next((d for d in rec["deliveries"] if d[3]), None)
    lat = sorted(t_done - r.event_us / 1e6 for _, _, t_done, rows in steady for r in rows)
    n_alerts = len(lat)
    span = (steady[-1][2] - rec["window_start"]) if steady else math.nan
    by_batch = {p["batchId"]: p for p in rec["progress"]}
    steady_prog = [by_batch[b] for b, *_ in steady if b in by_batch]
    rows_in = sum(p["numInputRows"] for p in steady_prog)
    # Each trigger reads the rows that fell due while the one before it ran,
    # so the rows of all steady triggers but the first cover the time from
    # the first steady delivery to the last.
    ingest_span = steady[-1][2] - steady[0][2] if len(steady) > 1 else math.nan
    ingest_rows = sum(p["numInputRows"] for p in steady_prog[1:])

    def pct(q):
        return lat[min(len(lat) - 1, int(q * len(lat)))] if lat else math.nan

    # Source lag at each trigger's start: how far the newest row read (the
    # newest alert's creation time) is behind the wall clock.
    lag_t, lag = [], []
    for b, _, _, rows in steady:
        if rows and b in by_batch:
            start = _progress_start(by_batch[b])
            lag_t.append(start)
            lag.append(start - max(r.event_us for r in rows) / 1e6)
    e2e = {
        "first_alert_s": ((first[2] - rec["t_start"]) if first else math.nan, "s"),
        "alert_latency_p50_s": (statistics.median(lat) if lat else math.nan, "s"),
        "alert_latency_p99_s": (pct(0.99), "s"),
        "alert_samples": (n_alerts, "count"),
        "steady_triggers": (len(steady), "count"),
        "ingest_rows_per_s": (ingest_rows / ingest_span, "rows/s"),
        "alerts_per_s": (n_alerts / span if span else math.nan, "alerts/s"),
        "alert_precision": (
            sum(bool(r.is_anomaly) for *_, rows in steady for r in rows) / n_alerts
            if n_alerts
            else math.nan,
            "ratio",
        ),
    }
    layer = {}
    if tracer.enabled:
        layer = _layers(rec, steady, steady_prog, span, lag_t, lag, n_alerts, rows_in, tracer, counters)
    triggers = [
        {
            "batch": b,
            "delivered_at": t_done - rec["t_start"],
            "alerts": len(rows),
            "latency_s": statistics.median(t_done - r.event_us / 1e6 for r in rows) if rows else None,
            "rows": by_batch.get(b, {}).get("numInputRows"),
            "duration_ms": by_batch.get(b, {}).get("durationMs"),
        }
        for b, _, t_done, rows in rec["deliveries"]
    ]
    return {"e2e": e2e, "layer": layer, "detail": {"triggers": triggers}}


def _mean_ms(progress, key) -> float:
    vals = [p["durationMs"].get(key, 0) for p in progress]
    return statistics.fmean(vals) / 1000 if vals else 0.0


def _layers(rec, steady, prog, span, lag_t, lag, n_alerts, rows_in, tracer, counters) -> dict:
    """Trigger spans rebuilt from progress, plus per-trigger layer metrics."""
    for p in rec["progress"]:
        start = _progress_start(p)
        dur = p["durationMs"]
        rid = str(p["batchId"])
        root = tracer.add("trigger", start, start + dur.get("triggerExecution", 0) / 1000, None, rid)
        t = start
        for phase in PHASES:
            d = dur.get(phase, 0) / 1000
            tracer.add(phase, t, t + d, root, rid)
            t += d
        for b, t_enter, t_done, rows in rec["deliveries"]:
            if b == p["batchId"]:
                tracer.add("sink", t_enter, t_done, root, rid, alerts=len(rows))
    states = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]

    def state_mean(key, scale=1.0):
        return statistics.fmean(s.get(key, 0) for s in states) * scale if states else 0.0

    steady_ids = {b for b, *_ in steady}
    counters.drain()
    jobs = [
        j
        for j in counters.job_ids(rec["run_id"])
        if _batch_of(counters.job_description(j)) in steady_ids
    ]
    ex = counters.totals(jobs)
    n = max(1, len(steady_ids))
    return {
        "stream.trigger_s": (_mean_ms(prog, "triggerExecution"), "s"),
        "stream.add_batch_s": (_mean_ms(prog, "addBatch"), "s"),
        "stream.query_planning_s": (_mean_ms(prog, "queryPlanning"), "s"),
        "stream.wal_commit_s": (_mean_ms(prog, "walCommit"), "s"),
        "stream.commit_offsets_s": (_mean_ms(prog, "commitOffsets"), "s"),
        "stream.sink_s": (
            statistics.fmean(t_done - t_enter for _, t_enter, t_done, _ in steady) if steady else 0.0,
            "s",
        ),
        "stream.busy_fraction": (
            sum(p["durationMs"].get("triggerExecution", 0) for p in prog) / 1000 / span
            if span
            else 0.0,
            "ratio",
        ),
        "stream.rows_per_trigger": (rows_in / n, "rows"),
        "stream.source_lag_s": (statistics.median(lag) if lag else 0.0, "s"),
        "stream.backlog_growth_rows_per_s": (_slope(lag_t, lag) * rec["offer"], "rows/s"),
        "state.update_s": (state_mean("allUpdatesTimeMs", 1e-3), "s"),
        "state.commit_s": (state_mean("commitTimeMs", 1e-3), "s"),
        "state.bytes": (state_mean("memoryUsedBytes"), "bytes"),
        "state.rows": (state_mean("numRowsTotal"), "rows"),
        "stream.scored_fraction_est": (
            n_alerts / (CONTAMINATION * rows_in) if rows_in else 0.0,
            "ratio",
        ),
        "stream.executor_run_s": (ex["executor_run_s"] / n, "s"),
        "stream.executor_cpu_s": (ex["executor_cpu_s"] / n, "s"),
        "stream.shuffle_write_bytes": (ex["shuffle_write_bytes"] / n, "bytes"),
        "stream.jobs": (ex["jobs"] / n, "count"),
    }


def _batch_of(description: str) -> int | None:
    m = re.search(r"batch = (\d+)", description)
    return int(m.group(1)) if m else None
