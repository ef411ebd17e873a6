"""The three workloads: what one pass runs, and how its outputs are checked.

Every workload is closed-loop: each op starts only after the previous one
has finished. The engine is reached only through its public entry points
(``registry.REGISTRY[name](spark, sf_dir)`` plus the noop sink for the query
workloads; the sources -> steps -> operators/geo -> steps chain for the
raster pipeline).
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

SQL_OPS = [
    "q1_pricing_summary",
    "join_inner_equi",
    "join_broadcast_left",
    "join_asof",
    "join_range",
    "agg_cube_rollup",
    "window_running_sum",
    "top_k",
    "stream_window_agg",
    "stream_session_window",
    "events_sessionize",
    "stats_logrank_test",
]
# Two eager fixed-point loops (label propagation, BPE merges) that run jobs
# inside the query call, and one op whose work is all in the final action.
LLM_OPS = ["dedup_clusters", "tokenizer_pipeline", "eval_cer"]

QUERY_WORKLOADS = {"sql_analytics": SQL_OPS, "llm_curation": LLM_OPS}


class QueryWorkload:
    """One pass = every op of the workload, built then sunk to noop."""

    def __init__(self, name, spark, sf_dir, tracer):
        from wri_data_processing_spark import registry

        self.name = name
        self.ops = QUERY_WORKLOADS[name]
        self.spark = spark
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.registry = registry

    def check(self, order, con) -> list[str]:
        """Compare each op with its DuckDB oracle; returns failure lines."""
        from tests.oracle_harness import compare

        failures = []
        for op in order:
            try:
                problems = compare(
                    self.registry.REGISTRY[op](self.spark, self.sf_dir), con, self.registry.ORACLE[op]
                )
            except Exception as exc:  # an op that raises is a failed op
                traceback.print_exc()
                problems = [f"raised {type(exc).__name__}: {exc}"]
            failures += [f"{op}: {p}" for p in problems[:1]]
        return failures

    def run_pass(self, order, traced: bool) -> dict:
        tr = self.tracer if traced else None
        ops = {}
        problems = []
        t0 = time.perf_counter()
        with _span(tr, f"pass.{self.name}", jobs=False) as root:
            with _catalog_spans(tr):
                for op in order:
                    try:
                        ops[op] = self._run_op(op, tr)
                    except Exception as exc:  # an op that raises is a failed op
                        traceback.print_exc()
                        problems.append(f"{op} raised {type(exc).__name__}: {exc}")
        wall = time.perf_counter() - t0
        return {"wall": wall, "ops": ops, "attempted": len(order), "problems": problems, "root": root}

    def _run_op(self, op, tr) -> dict:
        fn = self.registry.REGISTRY[op]
        t0 = time.perf_counter()
        with _span(tr, f"queries.{op}", jobs=True, layer="queries", op=op):
            df = fn(self.spark, self.sf_dir)
        t1 = time.perf_counter()
        with _span(tr, f"exec.{op}", jobs=True, layer="exec", op=op):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        out = {"build": t1 - t0, "action": t2 - t1}
        if op == "dedup_clusters":
            from wri_data_processing_spark.queries import llm_dedup

            out["propagation_rounds"] = llm_dedup.LAST_PROPAGATION_ROUNDS
        return out


class RasterWorkload:
    """One pass = the reference pipeline: inventory -> COG -> STAC items."""

    def __init__(self, spark, work_dir, layout, tracer, partitions):
        from wri_data_processing_spark.operators.validate import GridExpectations
        from wri_data_processing_spark.sources.tiff_fixture import RES, XMIN, YMAX

        self.spark = spark
        self.tracer = tracer
        self.layout = layout
        self.partitions = partitions
        self.root = os.path.join(work_dir, "rasters")
        self.cogs = os.path.join(work_dir, "cogs")
        self.items = os.path.join(work_dir, "stac", "items")
        side = layout["side"]
        self.expect = GridExpectations(
            epsg=5070,
            res_x=RES,
            res_y=RES,
            xmin=XMIN,
            xmax=XMIN + side * RES,
            ymin=YMAX - side * RES,
            ymax=YMAX,
        )
        hosted = frozenset(layout["hosted"])
        self.probe = hosted.__contains__  # seeded, no network, picklable

    def reset_outputs(self) -> None:
        """Outside the timed region: step01 skips COGs that already exist."""
        for d in (self.cogs, os.path.dirname(self.items)):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.cogs)

    def run_pass(self, traced: bool) -> dict:
        from pyspark.sql import functions as F

        from wri_data_processing_spark.geo.reproject import with_stac_spatial
        from wri_data_processing_spark.operators.probe import with_hosted_flag
        from wri_data_processing_spark.sources.listing import scan_file_listing, strip_scheme
        from wri_data_processing_spark.steps.step00_inventory import step00_inventory
        from wri_data_processing_spark.steps.step01_cog import status_counts, step01_cog
        from wri_data_processing_spark.steps.step02_stac import build_item_docs, sink_item_files

        tr = self.tracer if traced else None
        spark = self.spark
        cached = []
        steps = {}
        t0 = time.perf_counter()
        with _span(tr, "pass.raster_etl", jobs=False) as root:
            s = time.perf_counter()
            with _span(tr, "steps.step00_inventory", jobs=False, layer="steps"):
                with _span(tr, "sources.scan_file_listing", jobs=True, layer="build"):
                    listing = scan_file_listing(spark, self.root).withColumn(
                        "path", strip_scheme(F.col("path"))
                    )
                    listing = listing.repartition(self.partitions)
                with _span(tr, "steps.step00_inventory.build", jobs=True, layer="build"):
                    inv = step00_inventory(listing, expectations=self.expect)
                    meta = inv.all_meta.cache()
                    cached.append(meta)
                with _span(tr, "steps.step00_inventory.action", jobs=True, layer="exec"):
                    headers_read = meta.count()
                consistent = meta.filter(F.col("success") & F.col("passes_assumptions"))
            steps["step00"] = time.perf_counter() - s

            s = time.perf_counter()
            with _span(tr, "steps.step01_cog", jobs=False, layer="steps"):
                with _span(tr, "steps.step01_cog.build", jobs=True, layer="build"):
                    statuses = step01_cog(consistent, self.cogs).cache()
                    cached.append(statuses)
                with _span(tr, "steps.step01_cog.action", jobs=True, layer="exec"):
                    counts = {r["status"]: r["n"] for r in status_counts(statuses).collect()}
            steps["step01"] = time.perf_counter() - s

            s = time.perf_counter()
            with _span(tr, "operators.with_hosted_flag", jobs=True, layer="build"):
                written = statuses.filter(F.col("status") == "written").select("cog_filename")
                flagged = with_hosted_flag(consistent.join(written, "cog_filename"), self.probe)
                cached.append(flagged)
            steps["probe"] = time.perf_counter() - s

            s = time.perf_counter()
            with _span(tr, "steps.step02_stac", jobs=False, layer="steps"):
                with _span(tr, "steps.step02_stac.build", jobs=True, layer="build"):
                    items = build_item_docs(with_stac_spatial(flagged))
                with _span(tr, "steps.step02_stac.action", jobs=True, layer="exec"):
                    sink_item_files(items, self.items, overwrite=True)
            steps["step02"] = time.perf_counter() - s
        wall = time.perf_counter() - t0
        for df in cached:
            df.unpersist()

        n_valid = len(self.layout["layers"])
        items_written = len(os.listdir(self.items))
        cog_bytes = sum(os.path.getsize(os.path.join(self.cogs, f)) for f in os.listdir(self.cogs))
        problems = []
        if counts != {"written": n_valid, "failed": 1}:
            problems.append(f"status counts {counts}, expected written={n_valid} failed=1")
        if headers_read != n_valid + 1:
            problems.append(f"{headers_read} headers read, expected {n_valid + 1} (archive/ not excluded?)")
        if items_written != n_valid:
            problems.append(f"{items_written} STAC items, expected {n_valid}")
        return {
            "wall": wall,
            "steps": steps,
            "root": root,
            "attempted": 3,
            "problems": problems[:3],
            "headers_read": headers_read,
            "layers_written": counts.get("written", 0),
            "layers_failed": counts.get("failed", 0),
            "items_written": items_written,
            "cog_bytes": cog_bytes,
        }

    def check_cogs(self) -> list[str]:
        """Re-read every written COG's header and compare dims and EPSG."""
        from wri_data_processing_spark.sources.raster import scan_raster_header

        side = self.layout["side"]
        paths = [os.path.join(self.cogs, name) for name in self.layout["layers"]]
        rows = scan_raster_header(self.spark.createDataFrame([(p,) for p in paths], "path string")).collect()
        problems = []
        for r in rows:
            if not (r["success"] and r["nrows"] == side and r["ncols"] == side and r["crs_epsg"] == 5070):
                problems.append(
                    f"COG {r['filename']}: success={r['success']} {r['nrows']}x{r['ncols']} "
                    f"epsg={r['crs_epsg']} err={r['error']}"
                )
        if len(rows) != len(paths):
            problems.append(f"{len(rows)} COG headers for {len(paths)} layers")
        return problems


def _span(tr, name, **kw):
    return tr.span(name, **kw) if tr is not None else nullcontext()


@contextmanager
def _catalog_spans(tr):
    """While a traced pass runs, route the query modules' ``table`` binding
    through a span so time in ``catalog.table()`` shows up as its own layer."""
    if tr is None:
        yield
        return
    from wri_data_processing_spark import catalog

    orig = catalog.table

    def traced_table(spark, sf_dir, name):
        with tr.span("catalog.table", layer="catalog", table=name):
            return orig(spark, sf_dir, name)

    patched = [
        mod
        for mod in list(sys.modules.values())
        if getattr(mod, "__name__", "").startswith("wri_data_processing_spark.queries.")
        and getattr(mod, "table", None) is orig
    ]
    for mod in patched:
        mod.table = traced_table
    try:
        yield
    finally:
        for mod in patched:
            mod.table = orig
