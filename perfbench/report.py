"""Turn one run's operation log (and, when traced, its spans and Spark
stage metrics) into the end-to-end and per-layer metrics."""

from __future__ import annotations

import statistics

import stats
import tracing

# Gated end-to-end metrics: every workload reports each of them.  The
# per-operation ones are engine CPU seconds (``workloads.EngineCpu``); the
# wall-time medians are printed in the report line (NOTES.md says why).
# ``op_cpu_s.mean`` is a mean, not a median: history_reads mixes operation
# kinds whose costs differ tenfold, and a median of the mix jumps between
# them.
END_TO_END_UNITS = {
    "setup_s": "s",
    "op_cpu_s.mean": "s",
    "merge_cpu_s.p50": "s",
    "write_amp": "B/B",
    "table_mb": "MB",
}
# Printed in the report line only (see NOTES.md for why each is not gated).
REPORT_UNITS = {
    "ops_per_s": "1/s",
    "merged_rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
    "failed_op_share": "ratio",
}
# Operations that are not part of the timed closed loop.
UNTIMED_KINDS = {"refresh_equivalence"}
MERGE_KINDS = {"build_cycle", "foreach_batch", "merge"}
READ_KINDS = {"lookup": "lookup_s", "snapshot": "pit_read_s",
              "time_travel": "time_travel_s", "join": "temporal_join_s",
              "diff": "temporal_join_s"}


def _merge_time(rec: dict) -> float:
    return rec.get("merge_s", rec["t"])


def _merge_cpu(rec: dict) -> float:
    return rec.get("merge_cpu_s", rec["cpu_s"])


def _merges(loop: list[dict]) -> list[dict]:
    """Write operations that merged (a skipped replay merges nothing)."""
    return [o for o in loop if o["kind"] in MERGE_KINDS and not o.get("replay")]


def per_op(ops: list[dict]) -> dict[str, float]:
    """The per-operation end-to-end metrics."""
    loop = [o for o in ops if o["kind"] not in UNTIMED_KINDS]
    merges = _merges(loop)
    out: dict[str, float] = {}
    if loop:
        op_s = [o["t"] for o in loop]
        out["op_s.p50"] = stats.median(op_s)
        out["op_cpu_s.mean"] = statistics.fmean(o["cpu_s"] for o in loop)
        out["ops_per_s"] = len(op_s) / sum(op_s)
    if merges:
        out["merge_s.p50"] = stats.median([_merge_time(o) for o in merges])
        out["merge_cpu_s.p50"] = stats.median([_merge_cpu(o) for o in merges])
        rows = sum(o["merge_rows"] for o in merges)
        out["merged_rows_per_s"] = rows / sum(_merge_time(o) for o in merges)
    return out


def named_metrics(ops: list[dict]) -> tuple[dict, dict]:
    """The full set of latency metrics the workload has samples for, and
    for each tail which percentile it is and over how many samples."""
    loop = [o for o in ops if o["kind"] not in UNTIMED_KINDS]
    series: dict[str, list[float]] = {"op_s": [o["t"] for o in loop],
                                      "op_cpu_s": [o["cpu_s"] for o in loop]}
    merges = _merges(loop)
    if merges:
        series["merge_s"] = [_merge_time(o) for o in merges]
        series["merge_cpu_s"] = [_merge_cpu(o) for o in merges]
    replays = [o["t"] for o in loop if o.get("replay")]
    if replays:
        series["replay_s"] = replays
    if any("dq_s" in o for o in loop):
        series["dq_s"] = [o["dq_s"] for o in loop if "dq_s" in o]
    for o in loop:
        if o["kind"] in READ_KINDS:
            series.setdefault(READ_KINDS[o["kind"]], []).append(o["t"])
    out, tails = {}, {}
    for name, vals in series.items():
        out[f"{name}.p50"] = stats.median(vals)
        t = stats.tail(vals)
        if t:
            out[f"{name}.tail"] = t[0]
            tails[f"{name}.tail"] = {"percentile": round(t[1], 2), "samples": t[2]}
        else:
            tails[f"{name}.tail"] = {"percentile": None, "samples": len(vals),
                                     "note": "fewer than 11 samples"}
    return out, tails


def unit_of(name: str) -> str:
    return (END_TO_END_UNITS | REPORT_UNITS).get(name, "s")


def properties(wl, ops: list[dict], table_mb: float) -> dict:
    """Measured workload properties, averaged over the run's batches.
    ``late_share`` counts rows older than their key's current version."""
    batches = [o for o in ops if "props" in o]
    out = {"sizes": dict(wl.sizes), "table_mb": table_mb}
    if batches:
        for key in ("hot_share", "dup_share", "late_share", "delete_share"):
            out[key] = statistics.fmean(o["props"][key] for o in batches)
        out["batch_rows"] = statistics.fmean(o["props"]["rows"] for o in batches)
        out["batch_mb"] = statistics.fmean(o["input_bytes"] for o in batches) / 1e6
        out["batch_distinct_keys"] = statistics.fmean(
            o["props"]["distinct_keys"] for o in batches)
        out["buckets_touched_share"] = statistics.fmean(
            o.get("buckets_touched_share", 0.0) for o in batches)
    deliveries = [o for o in ops if "replay" in o]
    if deliveries:
        out["replayed_epoch_share"] = (
            sum(o["replay"] for o in deliveries) / len(deliveries))
    return out


def _median_or_0(vals) -> float:
    vals = list(vals)
    return stats.median(vals) if vals else 0.0


def _mean_or_0(vals) -> float:
    vals = list(vals)
    return statistics.fmean(vals) if vals else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def layers(r, spans, attr, storage_mb, session_start_s) -> dict:
    """Per-layer metrics from the traced operations."""
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    child_time: dict[str, float] = {}
    for s in spans:
        if s["parent"]:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (
                s["end"] - s["start"])

    def self_s(name):
        return _median_or_0(
            s["end"] - s["start"] - child_time.get(s["id"], 0.0)
            for s in by_name.get(name, ()))

    def tree(names, field, scale=1.0):
        """Per-span mean of a stage metric summed over each span's subtree."""
        vals = [attr[s["id"]]["tree"][field] / scale
                for n in names for s in by_name.get(n, ())]
        return _mean_or_0(vals)

    def tree_sum(names, field):
        return sum(attr[s["id"]]["tree"][field]
                   for n in names for s in by_name.get(n, ()))

    merges = _merges(r.ops)
    phases = [o["phases"] for o in merges if o.get("phases")]
    reads = [o for o in r.ops if o["kind"] in ("lookup", "time_travel")]
    lookups = [o for o in r.ops if o["kind"] == "lookup"]
    tj = [o for o in r.ops if o["kind"] in ("join", "diff", "snapshot")]
    tj_rows = sum(o.get("rows_out", 0) for o in tj)
    jd_rows = sum(o.get("rows_out", 0) for o in tj if o["kind"] != "snapshot")
    sources = [o for o in r.ops if "source_rows_scanned" in o]
    routes = [rt for o in r.ops for rt in o.get("routes", ())]
    salted = [n for kind, n in routes if kind == "salted"]
    op_spans = [s for s in spans if s["parent"] is None
                and s["name"].removeprefix("op.") not in UNTIMED_KINDS]
    residue = r.residue or [{"cached_rdds": 0, "stale_dirs": 0}]
    m = {
        "session.start_s": session_start_s,
        "sources.incremental_source_s": self_s("sources.incremental_source"),
        "sources.rows_scanned": _mean_or_0(o["source_rows_scanned"] for o in sources),
        "sources.selected_share": _ratio(
            sum(o["merge_rows"] for o in sources),
            sum(o["source_rows_scanned"] for o in sources)),
        "build.list_affected_s": _median_or_0(p["list_affected"] for p in phases if "list_affected" in p),
        "build.merge_and_stage_s": _median_or_0(p["merge_and_stage"] for p in phases if "merge_and_stage" in p),
        "build.swap_and_commit_s": _median_or_0(p["swap_and_commit"] for p in phases if "swap_and_commit" in p),
        "build.vacuum_s": _median_or_0(p["vacuum"] for p in phases if "vacuum" in p),
        "build.buckets_touched_share": _mean_or_0(o.get("buckets_touched_share", 0.0) for o in merges),
        "build.bytes_written": _mean_or_0(o.get("bytes_written", 0) for o in merges),
        "build.files_written": _mean_or_0(o.get("files_written", 0) for o in merges),
        "build.rows_rewritten_per_batch_row": _ratio(
            sum(o.get("rows_rewritten", 0) for o in merges),
            sum(o["merge_rows"] for o in merges)),
        "build.replays_skipped": sum(bool(o.get("replay_skipped")) for o in r.ops),
        "build.exec_cpu_s": tree(["build.build"], "executorCpuTime", 1e9),
        "build.shuffle_mb": tree(["build.build"], "shuffleWriteBytes", 1e6),
        "build.spill_mb": tree(["build.build"], "diskBytesSpilled", 1e6),
        "build.stale_stage_dirs": residue[-1]["stale_dirs"],
        "build.stale_stage_dirs_growth": residue[-1]["stale_dirs"] - residue[0]["stale_dirs"],
        "build.read_plan_s": _median_or_0(o["read_plan_s"] for o in reads),
        "build.bytes_scanned_per_row_returned": _ratio(
            tree_sum(["build.read_keys", "build.read_at_timestamp"], "inputBytes"),
            sum(o.get("rows_out", 0) for o in reads)),
        "build.files_scanned_per_lookup": _mean_or_0(o.get("files_scanned", 0) for o in lookups),
        "scd2.merge_fn_s": self_s("scd2.merge_fn"),
        "scd2.versions_added_per_batch_row": _ratio(
            sum(o.get("versions_added", 0) for o in merges),
            sum(o["merge_rows"] for o in merges)),
        "scd2_salted.hot_keys": _mean_or_0(salted),
        "scd2_salted.salted_route_share": _ratio(len(salted), len(routes)),
        "invariants.suite_s": self_s("invariants.suite"),
        "invariants.exec_cpu_s": tree(["invariants.suite"], "executorCpuTime", 1e9),
        "invariants.shuffle_mb": tree(["invariants.suite"], "shuffleWriteBytes", 1e6),
        "invariants.failures": sum(o.get("dq_failures", 0) for o in r.ops),
        "temporal_join.join_s": self_s("temporal_join.join"),
        "temporal_join.diff_s": self_s("temporal_join.diff"),
        "temporal_join.snapshot_s": self_s("temporal_join.snapshot_at"),
        "temporal_join.shuffle_mb_per_krow_out": _ratio(
            tree_sum(["temporal_join.join", "temporal_join.diff"], "shuffleWriteBytes") / 1e6,
            jd_rows / 1000),
        "temporal_join.bytes_scanned_per_row_out": _ratio(
            tree_sum(["temporal_join.join", "temporal_join.diff",
                      "temporal_join.snapshot_at"], "inputBytes"), tj_rows),
        "streaming.foreach_batch_s": self_s("streaming.foreach_batch"),
        "streaming.conflict_retries": sum(o.get("conflict_retries", 0) for o in r.ops),
        "streaming.empty_batches": sum(
            1 for o in r.ops if o["kind"] == "foreach_batch"
            and not o.get("replay") and o["merge_rows"] == 0),
        "caching.live_cached_rdds": residue[-1]["cached_rdds"],
        "caching.live_cached_rdds_growth": residue[-1]["cached_rdds"] - residue[0]["cached_rdds"],
        "caching.storage_mb": storage_mb or 0.0,
        "spark.jobs_per_op": _mean_or_0(attr[s["id"]]["tree"]["jobs"] for s in op_spans),
        "spark.tasks_per_op": _mean_or_0(attr[s["id"]]["tree"]["numTasks"] for s in op_spans),
        "spark.driver_share": _mean_or_0(
            1.0 - tracing.busy_time(attr[s["id"]]["tree"]["intervals"],
                                    s["start"], s["end"]) / (s["end"] - s["start"])
            for s in op_spans),
    }
    return m


LAYER_UNITS = {
    "session.start_s": "s", "sources.incremental_source_s": "s",
    "sources.rows_scanned": "rows", "sources.selected_share": "ratio",
    "build.list_affected_s": "s", "build.merge_and_stage_s": "s",
    "build.swap_and_commit_s": "s", "build.vacuum_s": "s",
    "build.buckets_touched_share": "ratio", "build.bytes_written": "B",
    "build.files_written": "count", "build.rows_rewritten_per_batch_row": "ratio",
    "build.replays_skipped": "count", "build.exec_cpu_s": "s",
    "build.shuffle_mb": "MB", "build.spill_mb": "MB",
    "build.stale_stage_dirs": "count", "build.stale_stage_dirs_growth": "count",
    "build.read_plan_s": "s", "build.bytes_scanned_per_row_returned": "B/row",
    "build.files_scanned_per_lookup": "count", "scd2.merge_fn_s": "s",
    "scd2.versions_added_per_batch_row": "ratio", "scd2_salted.hot_keys": "count",
    "scd2_salted.salted_route_share": "ratio", "invariants.suite_s": "s",
    "invariants.exec_cpu_s": "s", "invariants.shuffle_mb": "MB",
    "invariants.failures": "count", "temporal_join.join_s": "s",
    "temporal_join.diff_s": "s", "temporal_join.snapshot_s": "s",
    "temporal_join.shuffle_mb_per_krow_out": "MB/krow",
    "temporal_join.bytes_scanned_per_row_out": "B/row",
    "streaming.foreach_batch_s": "s", "streaming.conflict_retries": "count",
    "streaming.empty_batches": "count", "caching.live_cached_rdds": "count",
    "caching.live_cached_rdds_growth": "count", "caching.storage_mb": "MB",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "spark.driver_share": "ratio",
}


def build(wl, r, trace, session_start_s, setup_times, warm_up_s, loop_s,
          peak_rss_mb, table_mb, stages, storage_mb, cpus) -> dict:
    attempted = len(r.ops)
    failed = sum(o["failed"] for o in r.ops)
    e2e = per_op(r.ops)
    e2e["setup_s"] = session_start_s + stats.median(setup_times) + warm_up_s
    writes = [o for o in r.ops if o["input_bytes"]]
    e2e["write_amp"] = _ratio(sum(o.get("bytes_written", 0) for o in writes),
                              sum(o["input_bytes"] for o in writes))
    e2e["table_mb"] = table_mb
    named, tails = named_metrics(r.ops)
    named.update(e2e)
    named["peak_rss_mb"] = peak_rss_mb
    named["failed_op_share"] = failed / attempted if attempted else 1.0
    correct = failed == 0 and (trace or all(k in e2e for k in END_TO_END_UNITS))
    result = {
        "workload": wl.name,
        "cpus": cpus,
        "session_start_s": session_start_s,
        "setup_times_s": setup_times,
        "warm_up_s": warm_up_s,
        "loop_s": loop_s,
        "report": {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(named.items())},
        "tails": tails,
        "properties": properties(wl, r.ops, table_mb),
        "failures": r.failures[:20],
        "ops": r.ops,
    }
    if trace:
        jobs, stage_map = stages
        attr = tracing.attribute(r.tracer.spans, jobs, stage_map)
        lm = layers(r, r.tracer.spans, attr, storage_mb, session_start_s)
        metrics = {k: {"value": lm[k], "unit": LAYER_UNITS[k]} for k in LAYER_UNITS}
        result["layers"] = metrics
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in END_TO_END_UNITS.items() if k in e2e}
    result["final"] = {"correct": correct, "attempted": attempted,
                       "failed": failed, "metrics": metrics}
    return result
