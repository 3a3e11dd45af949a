"""Per-layer metrics of a traced phase, from spans and the Spark event log.

Span names and the layer each stands for:

=====================  ==============================================
``ingest.run``         cdc.ingest -- ``CdcIngest.run`` (benchmark call)
``cdc.apply``          cdc.apply -- ``apply_batch`` (wrapped); the lazy
                       cdc.events / operators.text / cdc.dedup plan runs
                       inside its write job's first stage
``lake.write``         lake.table -- ``LakeTable.write_data_files``
``lake.commit``        lake.table -- ``LakeTable.commit``
``lake.compact``       lake.table -- ``LakeTable.compact``
``lake.lookup_plan``   lake.table -- ``LakeTable.candidate_files_for_key``
``read_conversation``  lake.table point lookup (benchmark call)
``table.read``         lake.table full public read (benchmark call)
``feed.poll``          cdc.feed -- ``IncrementalFeed.poll`` (benchmark call)
``feed.deliver``       materialize + ``IncrementalFeed.commit``
=====================  ==============================================
"""

from __future__ import annotations

import statistics

from perfbench.trace import Attribution, Span

TOP_LEVEL = ("ingest.run", "read_conversation", "table.read", "feed.poll",
             "feed.deliver")


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


UNITS = {
    "session.start_s": "s", "ingest.pending_s": "s", "apply.batch_s": "s",
    "apply.ev_per_s": "1/s", "apply.driver_s": "s", "apply.jobs_per_batch": "count",
    "apply.stages_per_batch": "count", "apply.scan_stage_s": "s",
    "dedup.collapse_ratio": "ratio", "apply.shuffle_write_bytes": "B",
    "apply.shuffle_fetch_wait_s": "s", "apply.gc_s": "s", "lake.write_s": "s",
    "lake.write_task_skew": "ratio", "lake.files_written": "count",
    "lake.bytes_written": "B", "lake.commit_s": "s", "lake.manifest_bytes": "B",
    "lake.compact_s": "s", "lake.compactions": "count", "lake.compacted_rows": "count",
    "lake.lookup_plan_ms": "ms", "lake.lookup_files_read": "count",
    "lake.lookup_jobs": "count", "lake.delta_files_max": "count",
    "lake.export_scan_bytes": "B", "lake.export_shuffle_bytes": "B",
    "feed.poll_s": "s", "feed.deliver_s": "s", "feed.useful_poll_ratio": "ratio",
    "feed.resyncs": "count", "trace.unattributed_pct": "%",
    "trace.overhead_pct": "%",
}


def per_layer(spans: list[Span], attr: Attribution, batch_events: dict[int, int],
              session_start_s: float, resyncs: int) -> dict[str, float]:
    """``resyncs``: full-state deliveries the measured consumers received
    over their lifetime (their first delivery is one)."""
    by: dict[str, list[Span]] = {}
    for s in spans:
        by.setdefault(s.name, []).append(s)
    dur = lambda s: s.end - s.start  # noqa: E731

    runs = by.get("ingest.run", [])
    applies = [s for s in by.get("cdc.apply", []) if s.attrs.get("status") == "applied"]
    apply_ids = {s.id for s in applies}
    writes = [s for s in by.get("lake.write", []) if s.parent in apply_ids]
    commits = [s for s in by.get("lake.commit", []) if s.parent in apply_ids]
    compacts = [s for s in by.get("lake.compact", []) if s.attrs.get("buckets", 0) > 0]
    plans = by.get("lake.lookup_plan", [])
    lookups = by.get("read_conversation", [])
    exports = by.get("table.read", [])
    polls = by.get("feed.poll", [])
    delivers = by.get("feed.deliver", [])

    ev = sum(batch_events.get(int(s.attrs.get("batch_id", -1)), 0) for s in applies)
    apply_s = sum(dur(s) for s in applies)
    valid = sum(batch_events.get(int(s.attrs["batch_id"]), 0) - s.attrs.get("rejected", 0)
                for s in applies)
    keys_out = sum(s.attrs.get("keys", 0) for s in applies)
    apply_stages = [attr.stages_of(s) for s in applies]
    first_stage = [st[0].wall_s for st in apply_stages if st]
    write_stages = [attr.stages_of(s) for s in writes]
    skews = [max(st, key=lambda x: x.run_s).skew for st in write_stages if st]
    export_stages = [attr.stages_of(s) for s in exports]

    # time inside the benchmark's own calls that neither a wrapped engine
    # method nor a Spark job started by the call accounts for
    top = [s for s in spans if s.name in TOP_LEVEL and s.parent is None]
    top_s = sum(dur(s) for s in top)
    unattributed = sum(attr.unattributed(s) for s in top)

    return {
        "session.start_s": session_start_s,
        "ingest.pending_s": _med(attr.self_time(s) for s in runs),
        "apply.batch_s": _med(dur(s) for s in applies),
        "apply.ev_per_s": ev / apply_s if apply_s else 0.0,
        "apply.driver_s": _med(attr.driver_time(s) for s in applies),
        "apply.jobs_per_batch": _mean(len(attr.jobs(s)) for s in applies),
        "apply.stages_per_batch": _mean(len(st) for st in apply_stages),
        "apply.scan_stage_s": _med(first_stage),
        "dedup.collapse_ratio": valid / keys_out if keys_out else 0.0,
        "apply.shuffle_write_bytes": _mean(
            sum(x.shuffle_write_bytes for x in st) for st in apply_stages),
        "apply.shuffle_fetch_wait_s": _mean(
            sum(x.fetch_wait_s for x in st) for st in apply_stages),
        "apply.gc_s": _mean(sum(x.gc_s for x in st) for st in apply_stages),
        "lake.write_s": _med(dur(s) for s in writes),
        "lake.write_task_skew": _med(skews),
        "lake.files_written": _mean(s.attrs.get("files", 0) for s in writes),
        "lake.bytes_written": _mean(
            sum(x.output_bytes for x in st) for st in write_stages),
        "lake.commit_s": _med(dur(s) for s in commits),
        "lake.manifest_bytes": _med(s.attrs.get("manifest_bytes", 0) for s in commits),
        "lake.compact_s": _med(dur(s) for s in compacts),
        "lake.compactions": float(len(compacts)),
        "lake.compacted_rows": float(sum(
            x.output_records for s in compacts for x in attr.stages_of(s))),
        "lake.lookup_plan_ms": _med(dur(s) * 1000 for s in plans),
        "lake.lookup_files_read": _mean(s.attrs.get("files", 0) for s in plans),
        "lake.lookup_jobs": _mean(len(attr.jobs(s)) for s in lookups),
        "lake.delta_files_max": float(max(
            (s.attrs.get("deltas", 0) for s in plans), default=0)),
        "lake.export_scan_bytes": _mean(
            sum(x.input_bytes for x in st) for st in export_stages),
        "lake.export_shuffle_bytes": _mean(
            sum(x.shuffle_write_bytes for x in st) for st in export_stages),
        "feed.poll_s": _med(dur(s) for s in polls),
        "feed.deliver_s": _med(dur(s) for s in delivers),
        "feed.useful_poll_ratio": len(delivers) / len(polls) if polls else 0.0,
        "feed.resyncs": float(resyncs),
        "trace.unattributed_pct": 100 * unattributed / top_s if top_s else 0.0,
    }


def self_times(spans: list[Span], attr: Attribution) -> dict[str, dict]:
    """Total and median self time per span name (seconds)."""
    out: dict[str, list[float]] = {}
    for s in spans:
        out.setdefault(s.name, []).append(attr.self_time(s))
    return {k: {"n": len(v), "sum_s": round(sum(v), 4),
                "p50_s": round(_med(v), 4)} for k, v in sorted(out.items())}
