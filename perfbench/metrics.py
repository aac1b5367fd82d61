"""Turn a run's rounds and spans into the three metric tables: the
workload's end-to-end report, the gated end-to-end metrics (BENCHMARK.json
``end_to_end``) and the per-layer metrics of a traced run (``per_layer``)."""

from __future__ import annotations

import statistics

from harness import Run, median, p90, span_s

STREAM_PHASES = {"add_batch": "addBatch", "latest_offset": "latestOffset",
                 "query_planning": "queryPlanning", "wal_commit": "walCommit",
                 "commit_offsets": "commitOffsets"}


def _flat(rounds, key):
    return [x for r in rounds for x in r.get(key, [])]


def gated(rounds: list[dict], setup_s: float, rss_mb: float) -> dict:
    """The metrics BENCHMARK.json gates, defined for every workload: set-up
    time, the median CPU seconds of a timed round and peak memory. Wall
    time per round is not gated: on a shared host it moves with the
    neighbours' load by more than any bound the gate may use (README.md,
    Noise); it is in the report."""
    return {
        "setup_s": (setup_s, "s"),
        "round_cpu_s": (median([r["cpu_s"] for r in rounds]), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def report(workload: str, run: Run, rounds: list[dict], setup_s: float, rss_mb: float) -> dict:
    """The workload's end-to-end metrics by the definitions in README.md;
    a metric a workload does not exercise is left out."""
    out = {"setup_s": (setup_s, "s"),
           "round_s": (median([r["round_s"] for r in rounds]), "s"),
           "op_ms_p50": (1000 * median(_flat(rounds, "op_s")), "ms"),
           "round_cpu_s": (median([r["cpu_s"] for r in rounds]), "s")}
    if workload in ("backlog_replay", "stream_tail", "cow_read_mix"):
        eps = [r["events"] / r["apply_s"] for r in rounds]
        out["events_per_s"] = (median(eps), "events/s")
        out["bytes_per_row"] = (run.final["bytes_per_row"], "B/row")
    if workload in ("stream_tail", "cow_read_mix"):
        commits = _flat(rounds, "op_s")
        out["commit_ms_p50"] = (1000 * median(commits), "ms")
        if workload == "stream_tail":
            tail = p90(commits)
            out["commit_ms_p90"] = (None if tail is None else 1000 * tail, "ms")
            out["maint_commit_ms_p50"] = (1000 * median(_flat(rounds, "maint_s")), "ms")
    if workload in ("backlog_replay", "cow_read_mix"):
        out["scan_s"] = (median([r["scan_s"] for r in rounds]), "s")
    if workload == "cow_read_mix":
        points = _flat(rounds, "point_s")
        out["point_read_ms_p50"] = (1000 * median(points), "ms")
        tail = p90(points)
        out["point_read_ms_p90"] = (None if tail is None else 1000 * tail, "ms")
        out["incremental_read_s"] = (median([r["incremental_s"] for r in rounds]), "s")
    if workload == "query_suite":
        out["suite_s"] = (median([r["round_s"] for r in rounds]), "s")
    out["peak_rss_mb"] = (rss_mb, "MB")
    out["error_rate"] = (run.failed / run.attempted, "ratio")
    return out


# ------------------------------------------------------------ per layer
PER_LAYER_UNITS: dict[str, str] = {
    "session.build_s": "s", "sources.stage_s": "s", "sources.feed_events": "count",
    "lake.merge_s_p50": "s", "lake.merge_job_s": "s", "lake.merge_driver_s": "s",
    "lake.merge_jobs": "count", "lake.merge_stages": "count", "lake.merge_tasks": "count",
    "lake.merge_executor_run_s": "s", "lake.merge_executor_cpu_s": "s",
    "lake.merge_core_util": "ratio", "lake.merge_task_skew": "ratio",
    "lake.merge_shuffle_write_bytes_per_event": "B/event", "lake.merge_spill_bytes": "B",
    "lake.merge_output_bytes_per_event": "B/event", "lake.buckets_touched": "count",
    "lake.cow_rows_rewritten_per_event": "ratio", "lake.redelivery_ms_p50": "ms",
    "lake.useful_merge_ratio": "ratio", "lake.scan_executor_run_s": "s",
    "lake.scan_shuffle_write_bytes": "B", "lake.entries_per_bucket_max": "count",
    "lake.point_read_jobs": "count", "lake.point_read_input_bytes": "B",
    "lake.incremental_input_bytes": "B", "lake.manifest_bytes": "B",
    "lake.manifest_groups": "count", "lake.compact_s": "s", "lake.compact_executor_run_s": "s",
    "lake.expire_s": "s", "lake.expire_files_removed": "count",
    "lake.expire_manifests_removed": "count",
    **{f"streaming.{k}_ms_p50": "ms" for k in STREAM_PHASES},
    "streaming.batches": "count", "streaming.rows_per_batch": "count",
    "plans.jobs": "count", "plans.executor_run_s": "s", "plans.shuffle_write_bytes": "B",
    "plans.oracle_mismatches": "count",
    **{f"{layer}.self_s": "s" for layer in ("session", "sources", "lake", "streaming", "plans")},
    "trace.overhead_round_s": "s", "trace.overhead_op_ms": "ms",
}


def per_layer_names(query_names) -> dict[str, str]:
    names = dict(PER_LAYER_UNITS)
    names.update({f"plans.{q}_s": "s" for q in query_names})
    return names


def _traced(run: Run, name: str, **match) -> list[dict]:
    return [s for s in run.tracer.named(name, **match) if "spark" in s]


def per_layer(workload: str, run: Run, rounds: list[dict], query_names) -> dict:
    """Per-layer metrics of a traced run. Every name is always reported; a
    layer the workload never calls reads 0 (no calls were recorded)."""
    names = per_layer_names(query_names)
    out = {k: 0.0 for k in names}
    tr = run.tracer
    traced_rounds = [r for r in rounds if r["traced"]]
    plain_rounds = [r for r in rounds if not r["traced"]]

    out["session.build_s"] = span_s(tr.named("session.build")[0])
    stages = tr.named("sources.stage")
    if stages:
        out["sources.stage_s"] = median([span_s(s) for s in stages])
        out["sources.feed_events"] = float(sum(r.get("events", 0) for r in rounds))

    merges = [s for s in _traced(run, "lake.merge") if not s["attrs"]["skipped"]]
    if merges:
        c = [m["spark"] for m in merges]
        events = sum(r["events"] for r in traced_rounds)
        out["lake.merge_s_p50"] = median([span_s(m) for m in merges])
        out["lake.merge_job_s"] = median([x["job_s"] for x in c])
        out["lake.merge_driver_s"] = median([span_s(m) - x["job_s"] for m, x in zip(merges, c)])
        for k in ("jobs", "stages", "tasks"):
            out[f"lake.merge_{k}"] = statistics.mean(x[k] for x in c)
        out["lake.merge_executor_run_s"] = median([x["executor_run_s"] for x in c])
        out["lake.merge_executor_cpu_s"] = median([x["executor_cpu_s"] for x in c])
        job_s = sum(x["job_s"] for x in c)
        if job_s > 0:
            out["lake.merge_core_util"] = sum(x["executor_run_s"] for x in c) / (job_s * run.cpus)
        skews = [x["write_task_skew"] for x in c if x["write_task_skew"]]
        out["lake.merge_task_skew"] = median(skews) if skews else 0.0
        out["lake.merge_shuffle_write_bytes_per_event"] = sum(x["shuffle_write_bytes"] for x in c) / events
        out["lake.merge_spill_bytes"] = statistics.mean(x["spill_bytes"] for x in c)
        out["lake.merge_output_bytes_per_event"] = sum(x["output_bytes"] for x in c) / events
        out["lake.buckets_touched"] = statistics.mean(m["attrs"]["buckets"] for m in merges)
        if workload == "cow_read_mix":
            out["lake.cow_rows_rewritten_per_event"] = sum(x["output_records"] for x in c) / events
    redelivery = _flat(traced_rounds, "redelivery_s")
    if redelivery:
        all_merges = _traced(run, "lake.merge")
        out["lake.redelivery_ms_p50"] = 1000 * median(redelivery)
        out["lake.useful_merge_ratio"] = len(merges) / len(all_merges)
    scans = _traced(run, "lake.read", kind="scan")
    if scans:
        out["lake.scan_executor_run_s"] = median([s["spark"]["executor_run_s"] for s in scans])
        out["lake.scan_shuffle_write_bytes"] = median([s["spark"]["shuffle_write_bytes"] for s in scans])
    points = _traced(run, "lake.read", kind="point")
    if points:
        out["lake.point_read_jobs"] = statistics.mean(s["spark"]["jobs"] for s in points)
        out["lake.point_read_input_bytes"] = statistics.mean(s["spark"]["input_bytes"] for s in points)
    inc = _traced(run, "lake.read", kind="incremental")
    if inc:
        out["lake.incremental_input_bytes"] = median([s["spark"]["input_bytes"] for s in inc])
    for key in ("entries_per_bucket_max", "manifest_bytes", "manifest_groups"):
        if key in run.final:
            out[f"lake.{key}"] = run.final[key]
    compacts = _traced(run, "lake.compact")
    if compacts:
        out["lake.compact_s"] = median([span_s(s) for s in compacts])
        out["lake.compact_executor_run_s"] = median([s["spark"]["executor_run_s"] for s in compacts])
    expires = tr.named("lake.expire_snapshots")
    if expires:
        out["lake.expire_s"] = median([span_s(s) for s in expires])
        out["lake.expire_files_removed"] = float(sum(
            s["attrs"].get("data_dirs_removed", 0) + s["attrs"].get("group_files_removed", 0)
            for s in expires))
        out["lake.expire_manifests_removed"] = float(sum(s["attrs"].get("expired", 0) for s in expires))

    progress = _flat(traced_rounds, "progress")
    if progress:
        for k, field in STREAM_PHASES.items():
            out[f"streaming.{k}_ms_p50"] = median([p["ms"].get(field, 0) for p in progress])
        out["streaming.batches"] = float(len(progress))
        out["streaming.rows_per_batch"] = statistics.mean(p["rows"] for p in progress)

    queries = [r for r in traced_rounds if "query_s" in r]
    if queries:
        for q in query_names:
            out[f"plans.{q}_s"] = median([r["query_s"][q] for r in queries])
        qspans = [s for s in tr.spans if s["name"].startswith("plans.") and "spark" in s]
        for k in ("jobs", "executor_run_s", "shuffle_write_bytes"):
            out[f"plans.{k}"] = sum(s["spark"][k] for s in qspans) / len(queries)
        out["plans.oracle_mismatches"] = float(run.final.get("oracle_mismatches", 0))

    # self time per layer, over the session build, the input set-up and
    # the traced rounds' spans
    selfs = tr.self_times()
    for s in tr.spans:
        key = f"{s['name'].split('.')[0]}.self_s"
        if key in out and ("spark" in s or s["name"] in ("session.build", "sources.stage")):
            out[key] += selfs[s["id"]]

    # tracing overhead: traced minus untraced rounds of the same run
    if traced_rounds and plain_rounds:
        out["trace.overhead_round_s"] = (median([r["round_s"] for r in traced_rounds])
                                         - median([r["round_s"] for r in plain_rounds]))
        out["trace.overhead_op_ms"] = 1000 * (median(_flat(traced_rounds, "op_s"))
                                              - median(_flat(plain_rounds, "op_s")))
    return {k: (float(v), names[k]) for k, v in out.items()}


def span_table(run: Run) -> list[tuple[str, int, float, float]]:
    """(span name, calls, total s, total self s) over traced spans."""
    selfs = run.tracer.self_times()
    agg: dict[str, list[float]] = {}
    for s in run.tracer.spans:
        if "spark" not in s:
            continue
        a = agg.setdefault(s["name"], [0, 0.0, 0.0])
        a[0] += 1
        a[1] += span_s(s)
        a[2] += selfs[s["id"]]
    return sorted(((k, int(v[0]), v[1], v[2]) for k, v in agg.items()), key=lambda x: -x[2])
