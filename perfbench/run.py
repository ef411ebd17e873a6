#!/usr/bin/env python3
"""Layered benchmark of the engine: one workload per run, closed loop.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 6 --trace 0

Run from the repository root. One run:

1. starts the engine (``session.get_spark`` + ``registry.load_all``) on
   ``local[nproc]``; process start to engine ready is ``setup_s``;
2. writes the seeded inputs under ``.perfbench/`` in the repository root;
3. runs one correctness pass (DuckDB oracles for the query workloads; status
   counts, STAC item count and COG header re-reads for the raster pipeline)
   that also warms the JVM and the Python workers; every failure counts as a
   failed op;
4. stamps host noise (nproc, load average, a fixed CPU probe) before and
   after the timed passes;
5. runs whole passes until ``--seconds`` have been measured. With
   ``--trace 1`` it alternates untraced and traced passes; traced passes
   record spans with Spark job/stage/task counters (written to
   ``.perfbench/out/``) and give the per-layer metrics.

Human-readable lines go to stdout first; the last stdout line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sql_analytics", "llm_curation", "raster_etl")

# Input sizes: sf scales the parquet tables (datagen.table_sizes); raster
# layers are side x side Float32. TINY is the self-test size.
DEFAULTS = {"sf": 0.01, "raster_layers": 6, "raster_side": 512}
TINY = {"sf": 0.001, "raster_layers": 2, "raster_side": 256}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="self-test size: sf0.001, 2 layers, one pass")
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work``; size the engine to
    this host; let Python workers import the engine."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # A small fixed heap: the JVM grows to it within the correctness pass, so
    # peak RSS measures the engine rather than when the GC chose to grow.
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    sys.path.insert(0, ROOT)


def start_engine(host) -> tuple:
    """(spark, {"setup_s", "get_spark_s", "load_all_s"})."""
    t_proc = host.process_start_epoch()
    from wri_data_processing_spark import registry
    from wri_data_processing_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(app_name="perfbench")
    t1 = time.time()
    registry.load_all()
    t2 = time.time()
    return spark, {"setup_s": t2 - t_proc, "get_spark_s": t1 - t0, "load_all_s": t2 - t1}


def stop_engine(host) -> None:
    """Stop Spark, shut the JVM down and wait until it and every process it
    started (the Python worker daemon and workers) have exited."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    started = host.process_tree(os.getpid())[1:]
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    host.wait_gone(started)


def duck_connection(sf_dir: str, work: str):
    import duckdb

    from wri_data_processing_spark.catalog import TABLES

    con = duckdb.connect()
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t + '.parquet')}'")
    return con


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run(args) -> int:
    import datagen
    import host
    import layers
    import workloads as wl
    from spans import Tracer

    cfg = TINY if args.tiny else DEFAULTS
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    rss = host.RssSampler()
    phases = {}
    try:
        prepare_env(work)
        spark, setup = start_engine(host)
        phases["setup"] = setup["setup_s"]
        cores = nproc()
        rng = random.Random(args.seed)
        tracer = Tracer(spark)
        failures: list[str] = []
        attempted = 0

        t_phase = time.perf_counter()
        inputs: dict = {"seed": args.seed}
        if args.workload == "raster_etl":
            layout = datagen.write_rasters(
                os.path.join(work, "rasters"), args.seed, cfg["raster_layers"], cfg["raster_side"]
            )
            inputs.update(
                raster_layers=len(layout["layers"]),
                raster_side=layout["side"],
                raster_bytes=layout["input_bytes"],
                raster_mb=round(layout["input_bytes"] / 2**20, 3),
            )
            runner = wl.RasterWorkload(spark, work, layout, tracer, partitions=cores)
        else:
            sf_dir = os.path.join(work, "tables")
            sizes = datagen.write_tables(sf_dir, args.seed, cfg["sf"])
            inputs.update(sf=cfg["sf"], parquet_mb=round(sum(sizes.values()) / 2**20, 3))
            runner = wl.QueryWorkload(args.workload, spark, sf_dir, tracer)
        phases["inputs"] = time.perf_counter() - t_phase

        def order():
            ops = list(runner.ops)
            rng.shuffle(ops)
            return ops

        # Correctness pass: untimed; it also warms the JVM and the workers.
        t_phase = time.perf_counter()
        if args.workload == "raster_etl":
            runner.reset_outputs()
            res = runner.run_pass(traced=False)
            attempted += res["attempted"] + 1
            failures += res["problems"] + runner.check_cogs()[:1]
        else:
            first = order()
            failures += runner.check(first, duck_connection(sf_dir, work))
            attempted += len(first)
        phases["check"] = time.perf_counter() - t_phase

        stamps = [host.stamp("before")]
        t_phase = time.perf_counter()
        passes = []  # (traced, result, cpu_s, worker_cpu_s)
        measured = 0.0
        # Untraced runs: whole passes until --seconds are measured. Traced
        # runs alternate untraced and traced passes, U T U at least, so a
        # linear warm-up drift cancels out of trace.overhead_s.
        min_passes = (2 if args.tiny else 3) if args.trace else 1
        while measured < args.seconds or len(passes) < min_passes:
            traced = bool(args.trace) and len(passes) % 2 == 1
            if args.workload == "raster_etl":
                runner.reset_outputs()
            c0, w0 = host.cpu_s()
            res = runner.run_pass(traced) if args.workload == "raster_etl" else runner.run_pass(order(), traced)
            c1, w1 = host.cpu_s()
            passes.append((traced, res, c1 - c0, w1 - w0))
            measured += res["wall"]
            attempted += res["attempted"]
            failures += res["problems"]
            if args.tiny and len(passes) >= min_passes:
                break
        phases["timed"] = time.perf_counter() - t_phase
        stamps.append(host.stamp("after"))

        plain = [p for p in passes if not p[0]]
        e2e = {
            "setup_s": (setup["setup_s"], "s"),
            "wall_s": (median([p[1]["wall"] for p in plain]), "s"),
            "cpu_s": (median([p[2] for p in plain]), "s"),
            "peak_rss_mb": (rss.stop(), "MB"),
        }
        per_layer = layers.per_layer_metrics(args.workload, passes, tracer, setup, cores, inputs)
        if args.trace:
            failures += layers.coverage_problems(passes, tracer)
            tracer.dump(
                os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                {"workload": args.workload, "inputs": inputs, "stamps": stamps},
            )
        failed = min(attempted, len(failures))
        inputs["phases_s"] = {k: round(v, 2) for k, v in phases.items()}
        report(args, e2e, per_layer, inputs, stamps, passes, attempted, failed, failures)
        metrics = per_layer if args.trace else e2e
        print(
            json.dumps(
                {
                    "correct": not failures,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                }
            )
        )
        return 0
    finally:
        rss.stop()
        stop_engine(host)
        shutil.rmtree(work, ignore_errors=True)


def report(args, e2e, per_layer, inputs, stamps, passes, attempted, failed, failures):
    n_plain = sum(1 for p in passes if not p[0])
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"passes {len(passes)} ({n_plain} untraced)  local[{nproc()}]")
    print(f"inputs {json.dumps(inputs)}")
    for s in stamps:
        print(f"host {json.dumps(s)}")
    pre, post = stamps[0], stamps[-1]
    lo, hi = sorted((pre["cpu_probe_s"], post["cpu_probe_s"]))
    if hi > 1.3 * lo:
        print("host LOUD: the CPU probe moved by more than 30% across the timed passes; "
              "compare this run only with runs from the same window")
    print(f"ops attempted {attempted}  failed {failed}  ops_failed_frac {failed / attempted:.4f} fraction")
    for line in failures[:20]:
        print(f"  FAIL {line}")
    print("end-to-end metrics (median over the untraced passes, n samples; no percentile is "
          "given because no run has ten samples beyond one):")
    for k, (v, u) in e2e.items():
        n = n_plain if k in ("wall_s", "cpu_s") else 1
        print(f"  {k:<22} {v:12.4f} {u:<6} n={n}")
    if args.trace:
        print("per-layer metrics (median over the traced passes):")
        for k, (v, u) in per_layer.items():
            print(f"  {k:<48} {v:12.4f} {u}")


def main(argv=None) -> int:
    args = parse_args(argv)
    # On SIGTERM, unwind through run()'s cleanup: stop the JVM, remove inputs.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [
        p for p in ("wri_data_processing_spark", os.path.join("tests", "oracle_harness.py"))
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: the engine is not in {ROOT} (missing {missing}); run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
