"""Benchmark entry point.

    python3 perfbench/run.py --workload star_sql --seed 1 --seconds 10 --trace 0

Runs one workload (``star_sql``, ``llm_curation`` or
``medallion_upsert``) against the package in the enclosing checkout and
prints, as its last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs untraced and traced passes and
reports the per-layer metrics.  Inputs, the Spark scratch space and the
event log live under ``.bench_build/perfbench`` in the checkout.  Exits
with code 2, printing no result, when the package is not there.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "spark_delta_lakehouse_nyctaxi_spark"
# star_sql is not in BENCHMARK.json (see perfbench/README.md) but stays
# runnable as the no-dedup, no-write control.
WORKLOADS = ("star_sql", "llm_curation", "medallion_upsert")
# Scale of the star-schema inputs, and the nominal length of one timed
# pass on a 4-CPU host: a run measures ceil(seconds / nominal) passes,
# a count fixed by the arguments alone.
SF = {"full": 0.01, "fast": 0.001}
NOMINAL_PASS_S = {"star_sql": 6.0, "llm_curation": 7.0, "medallion_upsert": 33.0}
MEDALLION = {
    "full": dict(copies=4, batches=9, batch_rows=2000, dup_rows=500, range_scans=12),
    "fast": dict(copies=1, batches=2, batch_rows=200, dup_rows=20, range_scans=2),
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fast", action="store_true",
                    help="sf0.001 inputs, a 1x medallion source, one pass")
    ap.add_argument("--corrupt", metavar="QUERY",
                    help="add one row to QUERY's result (checks the checker)")
    return ap.parse_args(argv)


def _environment(ws: str) -> None:
    tmp = os.path.join(ws, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a small fixed heap fills up in every run, so peak memory repeats
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_MASTER", None)


def _start_session(ws: str, event_dir: str | None):
    from spark_delta_lakehouse_nyctaxi_spark.session import get_spark

    tmp = os.path.join(ws, "tmp")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(ws, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    if importlib.util.find_spec(PKG) is None or not os.path.isfile(
            os.path.join(ROOT, "tools", "check_oracle.py")):
        print(f"perfbench: package {PKG} or tools/check_oracle.py not found "
              f"under {ROOT}", file=sys.stderr)
        return 2

    import datagen
    import oracle
    import tracer as tracing
    import workloads as W

    mode = "fast" if args.fast else "full"
    ws = os.path.join(ROOT, ".bench_build", "perfbench")
    _environment(ws)
    sf = SF[mode]
    sf_dir = datagen.star_tables(os.path.join(ws, "data", f"sf{sf}"), sf)

    from spark_delta_lakehouse_nyctaxi_spark.queries import REGISTRY

    check_oracle = oracle.load_check_oracle(ROOT)
    counts = W.Counts()
    run_id = f"{os.getpid()}"
    if args.workload == "medallion_upsert":
        work = os.path.join(ws, "medallion", run_id)
        wl = W.MedallionWorkload(
            os.path.join(sf_dir, "orders.parquet"), work, check_oracle,
            args.seed, counts, None, **MEDALLION[mode])
    else:
        names = W.STAR_SQL if args.workload == "star_sql" else W.LLM_CURATION
        work = None
        wl = W.QueryWorkload(names, sf_dir, REGISTRY, check_oracle, args.seed,
                             counts, None, corrupt=args.corrupt)
    wl.prepare()  # inputs + oracle: not part of set-up time

    event_dir = None
    if args.trace:
        event_dir = os.path.join(ws, "eventlog", run_id)
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)
    spark, session_s = _start_session(ws, event_dir)
    try:
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        wl.probe = W.Probe(jvm.pid if jvm else None)
        tr = tracing.Tracer(spark, run_id)
        wl.tracer = tr
        if args.trace:
            tr.install()
        warm_s = wl.warm(spark)
        setup_s = session_s + warm_s
        print(f"perfbench: session {session_s:.1f}s, warm pass {warm_s:.1f}s",
              file=sys.stderr)

        if args.trace:
            # untraced, traced, untraced: the untraced mean cancels the
            # pass-to-pass warm-up drift in the overhead estimate
            if wl.cold:
                wl.run_pass(spark, -2)
            before = wl.run_pass(spark, 0)
            tr.enabled = True
            tr.pass_idx = 1
            traced = wl.run_pass(spark, 1)
            tr.enabled = False
            tr.uninstall()
            passes = [before, wl.run_pass(spark, 2)]
        else:
            n = 1 if args.fast else max(
                1, math.ceil(args.seconds / NOMINAL_PASS_S[args.workload]))
            passes = [wl.run_pass(spark, i) for i in range(n)]
        peak_mb = wl.probe.peak_rss_mb()
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        app_id = spark.sparkContext.applicationId
    finally:
        _stop_session(spark)

    for p in passes:
        print(f"perfbench: pass {p.wall_s:.2f}s (ingest {p.ingest_s:.2f}s, "
              f"ops {sum(p.op_s):.2f}s, read {p.read_s:.2f}s) "
              + " ".join(f"{n}={t:.2f}" for n, t in zip(p.op_names, p.op_s)),
              file=sys.stderr)
    med = W.median
    if args.trace:
        events = tracing.EventLog(os.path.join(event_dir, app_id))
        shutil.rmtree(event_dir, ignore_errors=True)
        metrics = {k: _metric(v, _unit(k))
                   for k, v in tr.layer_metrics(events, 1, cores).items()}
        metrics["session.start_s"] = _metric(session_s, "s")
        metrics["trace.overhead_s"] = _metric(
            traced.wall_s - statistics.mean(p.wall_s for p in passes), "s")
    else:
        metrics = {
            "setup_s": _metric(setup_s, "s"),
            "wall_s": _metric(med(p.wall_s for p in passes), "s"),
            "ok_ratio": _metric(1.0 - counts.failed / max(1, counts.attempted),
                                "ratio"),
            "peak_rss_mb": _metric(peak_mb, "MB"),
            "ingest_s": _metric(
                med(t for p in passes for t in p.ingest_samples), "s"),
            "op_p50_s": _metric(wl.op_p50(passes), "s"),
            "read_s": _metric(med(p.read_s for p in passes), "s"),
            "write_amp": _metric(
                med(p.write_bytes for p in passes) / wl.source_bytes, "ratio"),
            "space_amp": _metric(wl.space_amp(), "ratio"),
        }
    if work:
        shutil.rmtree(work, ignore_errors=True)
    for e in counts.errors:
        print(f"perfbench: failed: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": counts.failed == 0,
        "attempted": counts.attempted,
        "failed": counts.failed,
        "metrics": metrics,
    }))
    return 0


def _unit(name: str) -> str:
    leaf = name.split(".")[-1]
    if leaf.endswith("_ms"):
        return "ms"
    if leaf == "s" or leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb") or leaf.startswith("mb_"):
        return "MB"
    if leaf.endswith("_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
