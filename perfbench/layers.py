"""Per-layer metrics of a traced run, from its spans and Spark event log.

Times and counts are per counted pass (the priming pass is left out),
except the set-up metrics (the run's one set-up) and the per-call merge,
read and trigger latencies (medians).  A layer the workload does not load
reports 0.
"""

from __future__ import annotations

import statistics

from spans import Tracer, attribute_jobs, read_event_log, stage_sums
from workloads import _dir_bytes


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def per_layer(tr: Tracer, ctx, event_log: str, nproc: int, gc_s: float,
              progress: list[dict]) -> tuple[dict, dict]:
    """Returns ``{metric: (value, unit)}`` and notes for the info line."""
    counted = {s.id for s in tr.named("pipelines.pass") if not s.attrs.get("priming")}
    n = max(len(counted), 1)

    def in_pass(span_id: int | None) -> bool:
        while span_id is not None:
            if span_id in counted:
                return True
            span_id = tr.spans[span_id].parent
        return False

    def spans(name: str):
        return [s for s in tr.named(name) if in_pass(s.id)]

    def per_pass(name: str) -> float:
        return sum(s.dur for s in spans(name)) / n

    def under(span_id: int | None, names: set[str]) -> bool:
        while span_id is not None:
            s = tr.spans[span_id]
            if s.name in names:
                return in_pass(s.id)
            span_id = s.parent
        return False

    jobs, stages = read_event_log(event_log)
    attribute_jobs(tr, jobs)
    n_all, all_ = stage_sums(jobs, stages, lambda j: in_pass(j.span))
    n_q, q = stage_sums(jobs, stages, lambda j: under(j.span, {"queries.build", "queries.plan", "queries.exec"}))
    n_m, m = stage_sums(jobs, stages, lambda j: under(j.span, {"merge.call"}))

    tasks = spans("pipelines.task")
    exec_s = per_pass("queries.exec")
    fallbacks = {}
    for s in tasks:
        if s.attrs.get("codegen_fallbacks"):
            fallbacks[s.attrs["query"]] = fallbacks.get(s.attrs["query"], 0) + s.attrs["codegen_fallbacks"]
    exports = [s.attrs["export"] for s in tasks if "export" in s.attrs]
    wave_bound = 0.0
    for w in spans("pipelines.wave"):
        wave_bound += max((s.dur for s in tasks if s.parent == w.id), default=0.0)

    merges = spans("merge.call")
    merge_s = [s.dur for s in merges]
    triggers = [p["duration_ms"].get("triggerExecution", 0) / 1000.0 for p in progress]
    triggers = triggers[len(triggers) - len(merges):] if merges else []  # counted passes only
    state_dir = ctx.extra.get("state_dir")
    changelog = ctx.extra.get("changelog_dir")
    n_files = ctx.extra.get("files", 0)

    metrics = {
        "session.start_s": (_median([s.dur for s in tr.named("session.start")]), "s"),
        "queries.load_all_s": (_median([s.dur for s in tr.named("queries.load_all")]), "s"),
        "session.warmup_s": (_median([s.dur for s in tr.named("session.warmup")]), "s"),
        "tables.register_views_s": (per_pass("tables.register_views"), "s"),
        "tables.scan_tasks": (all_["scan_tasks"] / n, "count"),
        "tables.scan_bytes": (all_["input_bytes"] / n, "B"),
        "tables.single_task_scan_s": (all_["single_task_scan_ms"] / 1000.0 / n, "s"),
        "queries.build_s": (per_pass("queries.build") - per_pass("tables.register_views"), "s"),
        "queries.plan_s": (per_pass("queries.plan"), "s"),
        "queries.exec_s": (exec_s, "s"),
        "queries.jobs": (n_q / n, "count"),
        "queries.stages": (q["stages"] / n, "count"),
        "queries.tasks": (q["tasks"] / n, "count"),
        "queries.task_cpu_s": (q["cpu_ns"] / 1e9 / n, "s"),
        "queries.scheduler_delay_s": (q["sched_delay_ms"] / 1000.0 / n, "s"),
        "queries.core_busy_frac": (q["run_ms"] / 1000.0 / n / (exec_s * nproc) if exec_s else 0.0, "ratio"),
        "queries.shuffle_write_bytes": (q["shuffle_write_bytes"] / n, "B"),
        "queries.spill_bytes": (q["spill_bytes"] / n, "B"),
        "queries.codegen_fallbacks": (sum(fallbacks.values()) / n, "count"),
        "merge.call_s": (_median(merge_s), "s"),
        "merge.touched_buckets": (
            sum(s.attrs.get("touched_buckets", 0) for s in merges) / len(merges) if merges else 0.0, "count"),
        "merge.rows_rewritten_per_input_row": (m["output_records"] / ctx.rows if ctx.rows and merges else 0.0, "ratio"),
        "merge.bytes_written": (m["output_bytes"] / len(merges) if merges else 0.0, "B"),
        "merge.read_state_s": (_median([s.dur for s in spans("merge.read_state")]), "s"),
        "merge.state_bytes_per_live_byte": (ctx.extra.get("state_bytes_per_live_byte", 0.0), "ratio"),
        "streaming.trigger_s": (_median(triggers), "s"),
        "streaming.trigger_overhead_s": (
            _median([t - s.dur - s.attrs.get("read_s", 0.0) for t, s in zip(triggers, merges)])
            if merges and triggers else 0.0, "s"),
        "streaming.changelog_bytes": (
            _dir_bytes(changelog) / n_files if changelog and n_files else 0.0, "B"),
        "sinks.export_snapshot_s": (per_pass("sinks.export_snapshot"), "s"),
        "sinks.bytes_written": (sum(e["bytes"] for e in exports) / n, "B"),
        "sinks.files_written": (sum(e["files"] for e in exports) / n, "count"),
        "pipelines.wave_s": (per_pass("pipelines.wave"), "s"),
        "pipelines.wave_bound_s": (wave_bound / n, "s"),
        "jvm.gc_s": (gc_s, "s"),
    }
    notes = {"codegen_fallback_tasks": fallbacks, "jobs_in_counted_passes": n_all,
             "merge_jobs": n_m, "state_dir_bytes": _dir_bytes(state_dir) if state_dir else 0}
    return metrics, notes
