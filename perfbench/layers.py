"""Per-layer metrics from the traced passes of one run.

Layers are named after the engine's modules. Every run prints the same
metric set so runs of different workloads line up: a metric whose layer the
workload does not touch reads 0 (``catalog.table_s`` on the raster pipeline,
the ``raster_etl.*`` layers on the query workloads, the ``llm_curation.*``
ops off ``llm_curation``).
"""

from __future__ import annotations

import statistics

from spans import COUNTERS, children, duration
from workloads import LLM_OPS

GENERIC = [
    ("session.get_spark_s", "s"),
    ("registry.load_all_s", "s"),
    ("catalog.table_s", "s"),
    ("build_s", "s"),
    ("build_jobs", "count"),
    ("build_share", "fraction"),
    ("exec.action_s", "s"),
    *((f"exec.{c}", unit) for c, unit in COUNTERS.items()),
    ("exec.core_busy_frac", "fraction"),
    ("python_worker_cpu_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.span_coverage", "fraction"),
]
LLM = [(f"llm_curation.{op}.{k}_s", "s") for op in LLM_OPS for k in ("build", "action")] + [
    ("llm_curation.llm_dedup.propagation_rounds", "count")
]
RASTER = [
    ("raster_etl.steps.step00_s", "s"),
    ("raster_etl.steps.step01_s", "s"),
    ("raster_etl.steps.step02_s", "s"),
    ("raster_etl.operators.probe_s", "s"),
    ("raster_etl.sources.headers_read", "count"),
    ("raster_etl.geo.cog_mb_written", "MB"),
    ("raster_etl.geo.cog_bytes_per_input_byte", "ratio"),
    ("raster_etl.steps.layers_written", "count"),
    ("raster_etl.steps.layers_failed", "count"),
    ("raster_etl.steps.items_written", "count"),
]
PER_LAYER = GENERIC + LLM + RASTER


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _descendants(spans, root):
    out, frontier = [], [root]
    while frontier:
        frontier = [c for s in frontier for c in children(spans, s["id"])]
        out += frontier
    return out


def per_layer_metrics(workload, passes, tracer, setup, cores, inputs) -> dict:
    """{name: (value, unit)} for every per-layer metric."""
    values = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
    values["session.get_spark_s"] = setup["get_spark_s"]
    values["registry.load_all_s"] = setup["load_all_s"]
    values["python_worker_cpu_s"] = _median([p[3] for p in passes if not p[0]])

    traced = [p[1] for p in passes if p[0]]
    plain = [p[1] for p in passes if not p[0]]
    if traced and plain:
        values["trace.overhead_s"] = _median([r["wall"] for r in traced]) - _median([r["wall"] for r in plain])

    per_pass = []
    for res in traced:
        root = res["root"]
        desc = _descendants(tracer.spans, root)
        row = {
            "catalog.table_s": sum(duration(s) for s in desc if s.get("layer") == "catalog"),
            "build_s": sum(duration(s) for s in desc if s.get("layer") in ("queries", "build")),
            "build_jobs": sum(s.get("jobs", 0) for s in desc if s.get("layer") in ("queries", "build")),
            "exec.action_s": sum(duration(s) for s in desc if s.get("layer") == "exec"),
            "trace.span_coverage": span_coverage(tracer.spans, root),
        }
        for c in COUNTERS:
            row[f"exec.{c}"] = sum(s.get(c, 0) for s in desc if s.get("layer") == "exec")
        row["build_share"] = row["build_s"] / res["wall"]
        if row["exec.action_s"]:
            row["exec.core_busy_frac"] = row["exec.executor_run_s"] / (cores * row["exec.action_s"])
        if workload == "llm_curation":
            for op, t in res["ops"].items():
                row[f"llm_curation.{op}.build_s"] = t["build"]
                row[f"llm_curation.{op}.action_s"] = t["action"]
            rounds = res["ops"].get("dedup_clusters", {}).get("propagation_rounds")
            row["llm_curation.llm_dedup.propagation_rounds"] = rounds or 0
        if workload == "raster_etl":
            row.update(
                {
                    "raster_etl.steps.step00_s": res["steps"]["step00"],
                    "raster_etl.steps.step01_s": res["steps"]["step01"],
                    "raster_etl.steps.step02_s": res["steps"]["step02"],
                    "raster_etl.operators.probe_s": res["steps"]["probe"],
                    "raster_etl.sources.headers_read": res["headers_read"],
                    "raster_etl.geo.cog_mb_written": res["cog_bytes"] / 2**20,
                    "raster_etl.geo.cog_bytes_per_input_byte": res["cog_bytes"] / inputs["raster_bytes"],
                    "raster_etl.steps.layers_written": res["layers_written"],
                    "raster_etl.steps.layers_failed": res["layers_failed"],
                    "raster_etl.steps.items_written": res["items_written"],
                }
            )
        per_pass.append(row)
    for name in {k for row in per_pass for k in row}:
        values[name] = _median([row[name] for row in per_pass if name in row])
    units = dict(PER_LAYER)
    return {n: (values[n], units[n]) for n, _ in PER_LAYER}


def span_coverage(spans, root) -> float:
    """Share of a pass's wall that its top-level spans account for, with the
    tracer's own counter reads taken out of both."""
    covered = sum(duration(s) - s["tracer_s"] for s in children(spans, root["id"]))
    return covered / (duration(root) - root["tracer_s"])


def coverage_problems(passes, tracer, tolerance=0.05) -> list[str]:
    """Span self-times must add up to the pass wall: the top-level spans of a
    traced pass may leave at most ``tolerance`` of it unaccounted."""
    out = []
    for traced, res, _, _ in passes:
        if traced:
            cov = span_coverage(tracer.spans, res["root"])
            if abs(1.0 - cov) > tolerance:
                out.append(f"spans cover {cov:.3f} of the traced pass wall")
    return out
