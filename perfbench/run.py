"""Benchmark entry point: one workload, checked outputs, every metric with its unit.

    python3 perfbench/run.py --workload stream_detect --seed 1 --seconds 25 --trace 0

Workloads (README.md in this directory says why each was chosen):

- ``stream_detect``: open loop at a fixed offer through the streaming
  detection pipeline; alerts are checked as they are delivered.
- ``batch_headline``: bench.py's 15 headline queries on generated sf 0.01
  tables, one cold pass then warm passes; results are checked against
  DuckDB or a recorded digest.

``setup_s`` is the time from process start until ``session.get_spark``
has returned (JVM launched, SparkContext up). With ``--trace 1`` spans and Spark
counters are recorded and the per-layer metrics are printed instead of
the end-to-end ones. Human-readable lines come first; the last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. Everything the run writes stays under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "real_time_data_anomaly_detection_spark"

#: Generated batch tables: fixed, so rows-only digests can be recorded;
#: the run's seed permutes the query order of every pass instead.
DATA_SEED = 42

#: Task slots per workload (None: every usable CPU). The batch tables are
#: small, so two slots do its work while the Python driver, the JVM's
#: driver and GC threads keep CPUs of their own; with a slot per CPU the
#: pass times follow the scheduler and whatever else the host runs.
MAX_CPUS = {"stream_detect": None, "batch_headline": 2}

#: Which workload metric each end-to-end metric of BENCHMARK.json reports.
E2E_SOURCE = {
    "latency_s": {"stream_detect": "alert_latency_p50_s", "batch_headline": "warm_best_total_s"},
    "first_result_s": {"stream_detect": "first_alert_s", "batch_headline": "first_run_total_s"},
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(E2E_SOURCE["latency_s"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01, help="batch table scale factor")
    ap.add_argument("--offer", type=int, default=100_000, help="stream rows per second")
    return ap.parse_args(argv)


def load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    args = parse_args(argv)
    # A terminated run still reaches the finally blocks that end its JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE}/ not found under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import host

    t_proc = host.process_start_time()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    pinned = host.pin_environment(ROOT, run_dir, MAX_CPUS[args.workload])
    t_launcher = time.time() - t_proc
    try:
        return _run(args, host, run_dir, pinned, t_launcher)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, host, run_dir, pinned, t_launcher) -> int:
    import tracing

    contract = load_contract()
    tracer = tracing.Tracer(bool(args.trace))
    t0 = time.time()
    from real_time_data_anomaly_detection_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=host.spark_conf(run_dir))
    tracer.add("setup", t0, time.time(), None, "setup")
    setup_s = t_launcher + time.time() - t0
    try:
        with host.PeakRss() as rss:
            out = _workload(args, spark, host, tracer, run_dir)
        env = {**pinned, "nproc": os.cpu_count(), "ram_gb": round(host.ram_bytes() / 2**30, 1)}
        env.update(host.versions(spark))
    finally:
        host.stop_session(spark)

    e2e = dict(out["e2e"])
    e2e["setup_s"] = (setup_s, "s")
    e2e["peak_rss_mb"] = (rss.peak / 2**20, "MB")
    layer = out["layer"]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "failures": out["failures"],
        "end_to_end": e2e,
        "per_layer": layer,
        "diagnostics": out["diagnostics"],
        "detail": out["detail"],
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(WORK, "results", stem + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if tracer.enabled:
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "spans", stem + ".json"))

    for name, (value, unit) in {**e2e, **layer, **out["diagnostics"]}.items():
        print(f"{name} = {value:.6g} {unit}")
    print(f"attempted = {out['attempted']}, failed = {out['failed']}")
    for reason in out["failures"]:
        print(f"FAILED: {reason}")

    if args.trace:
        wanted = {m["name"]: m["unit"] for m in contract["per_layer"]}
        values = {n: layer.get(n, (0.0, u))[0] for n, u in wanted.items()}
    else:
        wanted = {m["name"]: m["unit"] for m in contract["end_to_end"]}
        src = {n: E2E_SOURCE.get(n, {}).get(args.workload, n) for n in wanted}
        values = {n: e2e[src[n]][0] for n in wanted}
    finite = all(math.isfinite(v) for v in values.values())
    result = {
        "correct": out["failed"] == 0 and finite,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {n: {"value": values[n], "unit": wanted[n]} for n in wanted},
    }
    print(json.dumps(result))
    return 0


def _workload(args, spark, host, tracer, run_dir) -> dict:
    """Run one workload between two rounds of host probes, then verify it."""
    import tracing

    counters = tracing.SparkCounters(spark) if tracer.enabled else None
    iforest = host.IForestProbe(spark) if tracer.enabled else None
    probes = {"jvm": [], "fit": [], "score": []}

    def probe(tag):
        with tracer.span("host.jvm_probe", request_id=tag):
            probes["jvm"].append(host.jvm_probe(spark))
        if iforest:
            fit, score = iforest.run()
            t = time.time()
            tracer.add("iforest.fit", t - fit - score, t - score, None, tag)
            tracer.add("iforest.score", t - score, t, None, tag)
            probes["fit"].append(fit)
            probes["score"].append(score)

    probe("before")
    steal0, total0 = host.cpu_ticks()
    if args.workload == "stream_detect":
        import stream

        rec = stream.run(spark, args.offer, args.seconds, args.seed, tracer, counters)
        steal1, total1 = host.cpu_ticks()
        probe("after")
        attempted, failed, failures = stream.verify(rec)
        summary = stream.summarize(rec, tracer, counters)
    else:
        import batch
        import fixtures

        sf_dir = fixtures.write_tables(os.path.join(run_dir, "data"), args.sf, DATA_SEED)
        rec = batch.run(spark, sf_dir, batch.HEADLINE, args.seconds, args.seed, tracer, counters)
        steal1, total1 = host.cpu_ticks()
        probe("after")
        bad = batch.verify(rec["outputs"], sf_dir, batch.load_expected(args.sf))
        summary = batch.summarize(rec, batch.HEADLINE, bad, tracer)
        attempted, failed = summary["attempted"], summary["failed"]
        failures = [f"{k}: {v}" for k, v in {**rec["errors"], **bad}.items()]
    layer = dict(summary["layer"])
    if tracer.enabled:
        layer["host.jvm_probe_s"] = (statistics.median(probes["jvm"]), "s")
        layer["iforest.fit_s"] = (statistics.median(probes["fit"]), "s")
        layer["iforest.score_s"] = (statistics.median(probes["score"]), "s")
        errs = tracer.nesting_errors(slack=0.005)
        if errs:
            failures.extend(f"span nesting: {e}" for e in errs[:10])
            failed += 1
            attempted += 1
    return {
        "e2e": summary["e2e"],
        "layer": layer,
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "detail": summary["detail"],
        "diagnostics": {
            "host.jvm_probe_before_s": (probes["jvm"][0], "s"),
            "host.jvm_probe_after_s": (probes["jvm"][-1], "s"),
            # CPU time the hypervisor gave to other guests while the workload ran.
            "host.steal_fraction": ((steal1 - steal0) / max(1, total1 - total0), "ratio"),
        },
    }


if __name__ == "__main__":
    sys.exit(main())
