"""Per-layer metrics of a traced run, from its spans, the Spark event log
and the driver log. Every value is per pass (a registry pass or a night),
the median over the run's timed passes."""

from __future__ import annotations

import statistics

import sparklog
from registry_workload import FAMILIES, family
from spans import Span, outermost, self_times

OPERATOR_MODULES = ("graph", "dedup", "similarity", "text", "joins", "windows", "sampling", "multimodal")
DOMAINS = ("purchasing", "production", "qc", "control")  # those of the nightly quiet jobs
# Measured by the workload itself rather than from spans; 0 where absent.
EXTRAS = ("sources.watermark.log_files", "sources.sinks.bytes_written_per_delta_byte")
SPARK_SUMS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "job_busy_s",
)


def metric_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, in a fixed order."""
    units = {"plans.registry.build_s": "s", "plans.registry.exec_s": "s"}
    for fam in FAMILIES:
        units[f"plans.registry.{fam}.build_s"] = "s"
        units[f"plans.registry.{fam}.exec_s"] = "s"
    for mod in OPERATOR_MODULES:
        units[f"operators.{mod}.call_s"] = "s"
        units[f"operators.{mod}.calls"] = "count"
    for k in SPARK_SUMS:
        units[f"spark.{k}"] = "count" if k in ("jobs", "stages", "tasks") else "MB" if k.endswith("_mb") else "s"
    units["spark.driver_only_s"] = "s"
    units["spark.codegen_fallbacks"] = "count"
    units["plans.schedule.run_nightly_s"] = "s"
    units["plans.jobs.run_job_s"] = "s"
    units["plans.jobs.self_s"] = "s"
    for dom in DOMAINS:
        units[f"jobs.{dom}.build_s"] = "s"
    for fn in ("commit_run", "read_watermark"):
        units[f"sources.watermark.{fn}_s"] = "s"
        units[f"sources.watermark.{fn}_calls"] = "count"
    units["sources.watermark.log_files"] = "count"
    units["sources.sinks.merge_upsert_s"] = "s"
    units["sources.sinks.merge_upsert_calls"] = "count"
    units["sources.sinks.rewrite_ratio"] = "ratio"
    units["sources.sinks.bytes_written_per_delta_byte"] = "ratio"
    for fn in ("swap_with_backup", "recover_interrupted_swap", "has_committed_parquet"):
        units[f"sources.fsutil.{fn}_s"] = "s"
    units["session.get_session_s"] = "s"
    units["trace.pass_s"] = "s"
    units["trace.unattributed_s"] = "s"
    return units


def _has_ancestor(spans: list[Span], i: int, name: str) -> bool:
    p = spans[i].parent
    while p is not None:
        if spans[p].name == name:
            return True
        p = spans[p].parent
    return False


def pass_span_metrics(spans: list[Span], selfs: list[float], idx: list[int]) -> dict[str, float]:
    """Span-derived metrics of one pass; ``idx`` are its spans' indices."""
    by_name: dict[str, list[int]] = {}
    for i in idx:
        by_name.setdefault(spans[i].name, []).append(i)

    def total(name: str) -> float:
        return sum(spans[i].dur for i in by_name.get(name, []))

    def count(name: str) -> int:
        return len(by_name.get(name, []))

    out: dict[str, float] = {
        "plans.registry.build_s": total("plans.registry.build"),
        "plans.registry.exec_s": total("plans.registry.exec"),
    }
    for fam in FAMILIES:
        for part in ("build", "exec"):
            out[f"plans.registry.{fam}.{part}_s"] = sum(
                spans[i].dur
                for i in by_name.get(f"plans.registry.{part}", [])
                if family(spans[i].trace.split(":", 1)[1]) == fam
            )
    local = set(idx)
    for mod in OPERATOR_MODULES:
        prefix = f"operators.{mod}."
        top = [i for i in outermost(spans, lambda n, p=prefix: n.startswith(p)) if i in local]
        out[f"operators.{mod}.call_s"] = sum(spans[i].dur for i in top)
        out[f"operators.{mod}.calls"] = len(top)
    out["plans.schedule.run_nightly_s"] = total("plans.schedule.run_nightly")
    out["plans.jobs.run_job_s"] = total("plans.jobs.run_job")
    out["plans.jobs.self_s"] = sum(selfs[i] for i in by_name.get("plans.jobs.run_job", []))
    for dom in DOMAINS:
        name = f"jobs.{dom}.build"
        top = [i for i in outermost(spans, lambda n, m=name: n == m) if i in local]
        out[f"{name}_s"] = sum(spans[i].dur for i in top)
    for fn in ("commit_run", "read_watermark"):
        out[f"sources.watermark.{fn}_s"] = total(f"sources.watermark.{fn}")
        out[f"sources.watermark.{fn}_calls"] = count(f"sources.watermark.{fn}")
    merges = count("sources.sinks.merge_upsert")
    swaps = sum(
        1
        for i in by_name.get("sources.fsutil.swap_with_backup", [])
        if _has_ancestor(spans, i, "sources.sinks.merge_upsert")
    )
    out["sources.sinks.merge_upsert_s"] = total("sources.sinks.merge_upsert")
    out["sources.sinks.merge_upsert_calls"] = merges
    out["sources.sinks.rewrite_ratio"] = swaps / merges if merges else 0.0
    for fn in ("swap_with_backup", "recover_interrupted_swap", "has_committed_parquet"):
        name = f"sources.fsutil.{fn}"
        top = [i for i in outermost(spans, lambda n, m=name: n == m) if i in local]
        out[f"{name}_s"] = sum(spans[i].dur for i in top)
    out["trace.top_s"] = sum(spans[i].dur for i in idx if spans[i].parent is None)
    return out


def layer_metrics(
    spans: list[Span],
    pass_ids: list[str],
    pass_walls: list[float],
    spark_ops: dict,
    codegen_per_pass: list[int],
    extra: dict[str, float],
) -> dict[str, tuple[float, str]]:
    selfs = self_times(spans)
    members: dict[str, list[int]] = {p: [] for p in pass_ids}
    for i, s in enumerate(spans):
        p = (s.trace or "").split(":", 1)[0]
        if p in members:
            members[p].append(i)
    spark_pass = sparklog.per_pass(spark_ops)
    rows = []
    for p, wall, codegen in zip(pass_ids, pass_walls, codegen_per_pass):
        row = pass_span_metrics(spans, selfs, members[p])
        sp = spark_pass.get(p, {})
        for k in SPARK_SUMS:
            row[f"spark.{k}"] = sp.get(k, 0.0)
        row["spark.driver_only_s"] = wall - row["spark.job_busy_s"]
        row["spark.codegen_fallbacks"] = codegen
        row["trace.pass_s"] = wall
        row["trace.unattributed_s"] = wall - row.pop("trace.top_s")
        rows.append(row)
    setup_spans = [s.dur for s in spans if s.name == "session.get_session"]
    out = {}
    for name, unit in metric_units().items():
        if name in EXTRAS:
            value = extra.get(name, 0.0)
        elif name == "session.get_session_s":
            value = sum(setup_spans)
        else:
            value = statistics.median(r[name] for r in rows)
        out[name] = (float(value), unit)
    return out
