"""CDC ingest benchmark: one workload, one seed, one fresh driver process.

    python3 perfbench/run.py --workload replay_bulk --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it carries the
run's detail (input fingerprint, host record, mismatch and failure
counts, tail percentiles and sample counts, releaser health, session
conf drift). The full record and the spans go to
``.bench_work/results/``.

Everything the run writes stays under ``.bench_work/`` in the checkout;
generated inputs are kept under ``.bench_work/inputs/`` and reused by
later runs of the same seed. See ``perfbench/README.md`` for the
workloads, the metrics and which layer should move which figure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "runyoro_llm_data_pipeline_spark"
WORKLOADS = ("replay_bulk", "tail_serve")
RUN_LIMIT_S = 170.0

# the bounded end-to-end metrics, as BENCHMARK.json lists them
END_TO_END = {
    "setup_s": "s",
    "ingest_ev_per_s": "1/s",
    "freshness_p50_s": "s",
}
# reported in the detail line: a run's spread is wider than any allowed bound
FIGURES = {
    "peak_rss_mb": "MB",
    "lookup_p50_ms": "ms",
    "feed_lag_p50_s": "s",
    "export_rows_per_s": "1/s",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def session(run_dir: str, trace: bool):
    """Host-sized session: ``local[nproc]``, shuffle partitions 2 x nproc,
    driver heap a quarter of host memory (2-6 GB)."""
    from perfbench.hostinfo import mem_total_gb, nproc
    from runyoro_llm_data_pipeline_spark.session import get_spark

    n = nproc()
    heap_gb = int(min(max(mem_total_gb() // 4, 2), 6))
    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.driver.memory": f"{heap_gb}g",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # concurrent clients (tail_serve) each run in their own pool
        "spark.scheduler.mode": "FAIR",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{n}]",
                      shuffle_partitions=2 * n, extra_conf=conf)
    spark.range(1).collect()
    return spark, {"master": f"local[{n}]", "shuffle_partitions": 2 * n,
                   "driver_heap_gb": heap_gb}


def stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for the JVM to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def install_wrappers(tracer) -> None:
    """Spans around the nested public methods the engine calls (traced
    process only; the engine's code is unchanged)."""
    from runyoro_llm_data_pipeline_spark.cdc import ingest as ingest_mod
    from runyoro_llm_data_pipeline_spark.lake.table import SNAP_DIR, LakeTable

    def on_apply(s, a, out):
        s.attrs.update(status=out.get("status"), batch_id=out.get("batch_id"),
                       keys=out.get("applied_keys", 0),
                       rejected=out.get("rejected_rows", 0))

    def on_commit(s, a, out):
        path = os.path.join(a[0].path, SNAP_DIR, f"v{out.version:08d}.json")
        s.attrs["manifest_bytes"] = os.path.getsize(path)

    def on_plan(s, a, out):
        s.attrs["files"] = len(out[1])
        s.attrs["deltas"] = sum(1 for f in out[1] if f.get("kind") == "delta")

    tracer.wrap(ingest_mod, "apply_batch", "cdc.apply", on_apply)
    tracer.wrap(LakeTable, "write_data_files", "lake.write",
                lambda s, a, out: s.attrs.update(files=len(out)))
    tracer.wrap(LakeTable, "commit", "lake.commit", on_commit)
    tracer.wrap(LakeTable, "compact", "lake.compact",
                lambda s, a, out: s.attrs.update(buckets=out))
    tracer.wrap(LakeTable, "candidate_files_for_key", "lake.lookup_plan", on_plan)


def conf_drift(before: dict, after: dict) -> dict:
    keys = sorted(k for k in before.keys() | after.keys()
                  if before.get(k) != after.get(k))
    return {k: [before.get(k), after.get(k)] for k in keys}


def end_to_end(ph, setup_s: float, peak_rss_mb: float) -> tuple[dict, dict]:
    """The bounded metrics, and the other figures with tails (highest
    percentile with ten samples beyond it, or the count and maximum when
    a run has too few samples)."""
    from perfbench.stats import median, tail

    values = {
        "setup_s": setup_s,
        "ingest_ev_per_s": ph.ingest_events / ph.ingest_wall,
        "freshness_p50_s": median(ph.freshness),
    }
    figures = {
        "peak_rss_mb": peak_rss_mb,
        "lookup_p50_ms": median(ph.lookup_ms),
        "feed_lag_p50_s": median(ph.feed_lag),
        "export_rows_per_s": median(ph.export_rates),
    }
    out = {k: {"value": v, "unit": FIGURES[k]} for k, v in figures.items()}
    for name, unit, xs in (("lookup_tail_ms", "ms", ph.lookup_ms),
                           ("freshness_tail_s", "s", ph.freshness),
                           ("feed_lag_tail_s", "s", ph.feed_lag)):
        t = tail(xs)
        out[name] = ({"value": t["value"], "unit": unit, "pct": t["pct"], "n": t["n"]}
                     if t else {"value": None, "unit": unit, "n": len(xs),
                                "max": max(xs, default=None)})
    return values, out


def main(argv: list[str]) -> int:
    t_main = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: no {ENGINE}/ beside perfbench/ in {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import hostinfo, layers, workloads as wl
    from perfbench.stats import median
    from perfbench.trace import Attribution, Tracer, parse_event_log

    bench = os.path.join(ROOT, ".bench_work")
    run_dir = os.path.join(bench, f"run-{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(bench, "inputs"), exist_ok=True)
    os.makedirs(os.path.join(bench, "results"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")

    watchdog = threading.Timer(RUN_LIMIT_S, _overrun)
    watchdog.daemon = True
    watchdog.start()

    host_start = hostinfo.host_record()
    rss = hostinfo.RssSampler()
    with rss:
        t0 = time.perf_counter()
        spark, sess = session(run_dir, bool(args.trace))
        session_start_s = time.perf_counter() - t0
        conf_before = spark.conf.getAll
        tracer = Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}",
                        spark.sparkContext, enabled=False)
        ctx = wl.Ctx(spark, tracer, run_dir, args.seed, args.seconds)
        t0 = time.perf_counter()
        work = (wl.ReplayBulk(ctx) if args.workload == "replay_bulk"
                else wl.TailServe(ctx, n_windows=1 + args.trace))
        inputs_s = time.perf_counter() - t0
        reps, rep_steps = [], []
        for r in range(wl.SETUP_REPS):
            t0 = time.perf_counter()
            rep_steps.append(work.setup_rep(r))
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        work.prime()
        prime_s = time.perf_counter() - t0
        setup_s = session_start_s + median(reps) + prime_s
        untraced = None
        if args.trace:
            # traced phase first, then the same phase untraced: residual
            # warm-up lands on the traced side, so the overhead figure errs
            # high rather than low
            tracer.enabled = True
            install_wrappers(tracer)
        ph = work.measure("m")
        tracer.unwrap_all()
        tracer.enabled = False
        if args.trace:
            untraced = work.measure("u")
        conf_after = spark.conf.getAll
    t0 = time.perf_counter()
    mismatch = work.check(ph)
    check_s = time.perf_counter() - t0
    stop_session(spark)
    watchdog.cancel()

    failed = ph.failed + (untraced.failed if untraced else 0)
    attempted = ph.attempted + (untraced.attempted if untraced else 0)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "fingerprint": work.fp, "session": sess,
        "host_start": host_start, "host_end": hostinfo.host_record(),
        "inputs_s": inputs_s, "setup_reps_s": reps, "setup_steps_s": rep_steps,
        "prime_s": prime_s, "session_start_s": session_start_s,
        "check_s": check_s, "mismatch_rows": mismatch,
        "fail_ratio": failed / max(attempted, 1), "errors": ph.errors,
        "health": ph.health, "conf_drift": conf_drift(conf_before, conf_after),
        "samples": {"freshness_s": ph.freshness, "feed_lag_s": ph.feed_lag,
                    "lookup_ms": ph.lookup_ms, "export_rows_per_s": ph.export_rates},
    }
    stamp = time.strftime("%Y%m%dT%H%M%S")
    if args.trace:
        spans = tracer.spans
        logs = os.listdir(os.path.join(run_dir, "eventlog"))
        with open(os.path.join(run_dir, "eventlog", logs[0])) as fh:
            jobs, stages = parse_event_log(fh)
        attr = Attribution(spans, jobs, stages)
        batch_events = {int(k): v for k, v in work.fp["batch_events"].items()}
        values = layers.per_layer(spans, attr, batch_events, session_start_s,
                                  ph.resyncs())
        per_batch = lambda p: p.ingest_wall / max(p.applied_batches, 1)  # noqa: E731
        values["trace.overhead_pct"] = 100 * (per_batch(ph) / per_batch(untraced) - 1)
        record["self_time"] = layers.self_times(spans, attr)
        record["spark_jobs"] = len(jobs)
        tracer.dump(os.path.join(bench, "results", f"{args.workload}-s{args.seed}-{stamp}.spans.jsonl"))
    else:
        values, record["figures"] = end_to_end(ph, setup_s, rss.peak_mb)
    units = END_TO_END if not args.trace else layers.UNITS
    record["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    record["wall_s"] = time.perf_counter() - t_main
    with open(os.path.join(bench, "results",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)

    detail = {k: record[k] for k in ("workload", "seed", "trace", "mismatch_rows",
                                     "fail_ratio", "health", "conf_drift")}
    detail["fingerprint"] = {k: work.fp[k] for k in (
        "events", "keys", "events_per_key", "hot_key_share", "content_hash")}
    detail["figures"] = record.get("figures")
    detail["host"] = {"start": host_start, "end": record["host_end"]}
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": mismatch == 0 and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": record["metrics"],
    }))
    return 0


def _overrun() -> None:
    """Last resort against a hung run: end the JVM and this process."""
    print(f"perfbench: run exceeded {RUN_LIMIT_S:.0f} s", file=sys.stderr)
    try:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait(timeout=10)
    finally:
        os._exit(3)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
