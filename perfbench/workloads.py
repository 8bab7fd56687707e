"""The three benchmark workloads.

Each is a closed loop with one client: operations run one after another
in this process on ``local[nproc]``.  A workload has an untimed warm
pass (which also checks every output against its oracle) and timed
passes; ``Pass`` records the phase times of one timed pass.

- ``star_sql``: ten scan/join/aggregate/window registry queries; the
  seed permutes their order within each pass.
- ``llm_curation``: seven dedup/text/similarity registry queries; the
  seed permutes their order within each pass.
- ``medallion_upsert``: a seeded orders source through ``run_pipeline``
  (bronze → silver → gold) into a fresh lake, seeded MERGE batches into
  silver, a read-back phase, then ``compact`` + ``vacuum``.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from datagen import TABLES, dir_bytes, medallion_source
from oracle import MedallionOracle, price_sum
from tracer import plan_ms

STAR_SQL = (
    "q_agg_daily q_agg_2key q_join_inner q_join_multi q_join_range "
    "q_window_rank q_window_frame q_topk q_tpch_q5 q_tpch_q19"
).split()
LLM_CURATION = (
    "q_dedup_exact q_minhash_lsh q_text_quality q_token_count_bpe "
    "q_ann_bruteforce q_training_pipeline q_curation_pipeline_v2"
).split()


# A scan of the query workloads' inputs takes well under a second, so a
# pass repeats it; the run reports the median over all repeats.
INGEST_REPEATS = 5


@dataclass
class Pass:
    wall_s: float = 0.0
    ingest_s: float = 0.0
    ingest_samples: list[float] = field(default_factory=list)
    read_s: float = 0.0
    op_s: list[float] = field(default_factory=list)  # one per operation
    op_names: list[str] = field(default_factory=list)
    write_bytes: int = 0


class Probe:
    """Bytes the driver process and its JVM have written to storage
    (``/proc/<pid>/io`` write_bytes), and their peak resident memory."""

    def __init__(self, jvm_pid: int | None):
        self.pids = [os.getpid()] + ([jvm_pid] if jvm_pid else [])

    def _field(self, pid: int, fname: str, key: str) -> int:
        try:
            with open(f"/proc/{pid}/{fname}") as f:
                for line in f:
                    if line.startswith(key):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def written(self) -> int:
        return sum(self._field(p, "io", "write_bytes:") for p in self.pids)

    def peak_rss_mb(self) -> float:
        return sum(self._field(p, "status", "VmHWM:") for p in self.pids) / 1024.0


class Counts:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class QueryWorkload:
    """Registry queries at one scale factor, executed to the noop sink."""

    cold = False  # an untimed warm pass precedes the timed passes

    def __init__(self, names, sf_dir, registry, check_oracle, seed,
                 counts, probe, tracer=None, corrupt=None):
        self.names = names
        self.sf_dir = sf_dir
        self.registry = registry
        self.co = check_oracle
        self.seed = seed
        self.counts = counts
        self.probe = probe
        self.tracer = tracer
        self.corrupt = corrupt
        used = set()
        for n in names:
            sql = registry[n].sql.lower()
            used |= {t for t in TABLES if re.search(rf"\b{t}\b", sql)}
        self.tables = [t for t in TABLES if t in used]
        self.source_bytes = sum(
            os.path.getsize(os.path.join(sf_dir, f"{t}.parquet"))
            for t in self.tables)
        self.expected = None

    def prepare(self) -> None:
        from oracle import query_oracles

        self.expected = query_oracles(
            self.registry, self.names, self.sf_dir, TABLES)

    def _build(self, spark, name):
        df = self.registry[name].fn(spark, self.sf_dir)
        if name == self.corrupt:
            df = df.union(df.limit(1))  # one extra row: a wrong result
        return df

    def warm(self, spark) -> float:
        """Untimed pass that also checks every output; returns its time
        without the comparisons."""
        spent = 0.0
        for name in self.names:
            t0 = time.perf_counter()
            try:
                pdf = self._build(spark, name).toPandas()
            except Exception as e:
                spent += time.perf_counter() - t0
                self.counts.record(False, f"{name}: {type(e).__name__}: {e}")
                continue
            spent += time.perf_counter() - t0
            ok, msg = self.co.compare(
                name, pdf, self.expected[name], strict_dtypes=True)
            self.counts.record(ok, f"{name}: {msg}")
            spark.catalog.clearCache()
        return spent

    def run_pass(self, spark, i: int) -> Pass:
        from spark_delta_lakehouse_nyctaxi_spark.sources.readers import load_table

        p = Pass()
        tr = self.tracer
        order = list(self.names)
        random.Random(f"{self.seed}/{i}").shuffle(order)
        w0 = self.probe.written()
        scans = []
        with tr.span("ingest", "op"):
            for _ in range(INGEST_REPEATS):
                t0 = time.perf_counter()
                for t in self.tables:
                    _noop(load_table(spark, self.sf_dir, t))
                scans.append(time.perf_counter() - t0)
        p.ingest_s = median(scans)
        p.ingest_samples = scans
        for name in order:
            a = time.perf_counter()
            try:
                with tr.span(name, "op"):
                    with tr.span(name, "queries"):
                        df = self._build(spark, name)
                    with tr.span(name, "execute") as s:
                        _noop(df)
                ok = True
            except Exception as e:
                ok, s = False, None
                self.counts.errors.append(f"{name}: {type(e).__name__}: {e}")
            dt = time.perf_counter() - a
            self.counts.record(ok, name)
            p.op_names.append(name)
            p.op_s.append(dt)
            p.read_s += dt
            if s is not None:
                s["info"]["plan_ms"] = plan_ms(df)
            spark.catalog.clearCache()
        p.wall_s = p.ingest_s + p.read_s
        p.write_bytes = self.probe.written() - w0
        return p

    @staticmethod
    def op_p50(passes) -> float:
        """Each query's median latency over the passes, combined by
        geometric mean, so that every query weighs the same."""
        by_name: dict[str, list[float]] = {}
        for p in passes:
            for n, t in zip(p.op_names, p.op_s):
                by_name.setdefault(n, []).append(t)
        return statistics.geometric_mean(median(v) for v in by_name.values())

    def space_amp(self) -> float:
        # the workload writes no table: it stores only its inputs
        stored = sum(os.path.getsize(os.path.join(self.sf_dir, f"{t}.parquet"))
                     for t in self.tables)
        return stored / self.source_bytes


class MedallionWorkload:
    """Seeded orders source → run_pipeline → MERGE batches → read-back
    → compact + vacuum, each pass into a fresh lake."""

    def __init__(self, orders_path, work_dir, check_oracle, seed, counts,
                 probe, *, copies, batches, batch_rows, dup_rows, range_scans,
                 tracer=None):
        self.orders_path = orders_path
        self.co = check_oracle
        self.work_dir = work_dir
        self.seed = seed
        self.counts = counts
        self.probe = probe
        self.tracer = tracer
        self.copies, self.n_batches = copies, batches
        self.batch_rows, self.dup_rows = batch_rows, dup_rows
        self.range_scans = range_scans

    def prepare(self) -> None:
        inputs = os.path.join(self.work_dir, "inputs")
        shutil.rmtree(inputs, ignore_errors=True)
        files = medallion_source(
            self.orders_path, inputs, self.seed, self.copies,
            self.n_batches, self.batch_rows, self.dup_rows)
        self.source, self.batches = files["source"], files["batches"]
        self.source_bytes = os.path.getsize(self.source)
        rng = random.Random(f"{self.seed}/ranges")
        hi = int(pq.read_table(self.source, columns=["o_orderkey"])
                 ["o_orderkey"].to_numpy().max())
        self.ranges = []
        for _ in range(self.range_scans):
            lo = rng.randrange(0, hi)
            self.ranges.append((lo, lo + rng.randrange(hi // 50, hi // 5)))
        self.oracle = MedallionOracle(self.source, self.batches, self.ranges)
        self._space = None

    # A pipeline run is a fresh job that pays JIT and codegen every time,
    # so the timed passes start cold; every pass checks its own outputs.
    cold = True

    def warm(self, spark) -> float:
        return 0.0

    @staticmethod
    def _count_sum(df):
        from pyspark.sql import functions as F

        r = df.agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(22,2)")).alias("s"),
        ).collect()[0]
        return int(r["n"]), price_sum(r["s"])

    def run_pass(self, spark, i: int) -> Pass:
        from pyspark.sql import functions as F

        from spark_delta_lakehouse_nyctaxi_spark.pipeline.config import default_config
        from spark_delta_lakehouse_nyctaxi_spark.pipeline.jobs import run_pipeline
        from spark_delta_lakehouse_nyctaxi_spark.sources.table import VersionedTable

        o, tr, p, check = self.oracle, self.tracer, Pass(), self.counts.record
        lake = os.path.join(self.work_dir, f"lake-{os.getpid()}-{i + 1}")
        shutil.rmtree(lake, ignore_errors=True)
        cfg = default_config(lake, self.source)

        def timed(name, fn):
            w0 = self.probe.written()
            t0 = time.perf_counter()
            try:
                with tr.span(name, "op"):
                    out = fn()
            except Exception as e:
                self.counts.errors.append(f"{name}: {type(e).__name__}: {e}")
                out = e
            p.write_bytes += self.probe.written() - w0
            return out, time.perf_counter() - t0

        summary, p.ingest_s = timed("ingest", lambda: run_pipeline(spark, cfg))
        p.ingest_samples = [p.ingest_s]
        check(not isinstance(summary, Exception), "run_pipeline")
        if isinstance(summary, Exception):  # nothing downstream can run
            p.wall_s = p.ingest_s
            self._space = dir_bytes(lake) / self.source_bytes
            return p
        silver = VersionedTable(spark, cfg["paths"]["silver"])
        check(self._count_sum(silver.read()) == o.silver0, "silver rows")
        for key, want in (("gold_daily_kpis", o.gold_daily),
                          ("gold_segment_demand", o.gold_segment)):
            got = VersionedTable(spark, cfg["paths"][key]).read().toPandas()
            ok, msg = self.co.compare(key, got, want, strict_dtypes=True)
            check(ok, f"{key}: {msg}")

        schema = silver.read().schema
        for b, path in enumerate(self.batches):
            src = spark.read.parquet(path).select(
                *[F.col(f.name).cast(f.dataType) for f in schema.fields])
            out, dt = timed(f"upsert{b}",
                            lambda: silver.merge(src, keys=["o_orderkey"]))
            check(not isinstance(out, Exception), f"merge batch {b}")
            p.op_names.append(f"upsert{b}")
            p.op_s.append(dt)
        state = silver.read()
        check(self._count_sum(state) == o.final, "silver after upserts")
        keys = state.select("o_orderkey").toPandas()["o_orderkey"].sort_values()
        check(keys.to_numpy().tolist() == o.final_keys.tolist(),
                    "silver key set after upserts")

        def read_back():
            agg = silver.read().groupBy("o_orderpriority").agg(
                F.count("*").alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(22,2)")).alias("s"),
            ).collect()
            scans = [self._count_sum(silver.scan(
                pred={"o_orderkey": (lo, hi)})) for lo, hi in self.ranges]
            v0 = self._count_sum(silver.read(version=0))
            return agg, scans, v0

        res, p.read_s = timed("read_back", read_back)
        if isinstance(res, Exception):
            check(False, "read-back")
        else:
            agg, scans, v0 = res
            got = {r["o_orderpriority"]: (int(r["n"]), price_sum(r["s"])) for r in agg}
            check(got == o.by_priority, "snapshot aggregate")
            for k, (got_r, want_r) in enumerate(zip(scans, o.ranges)):
                check(got_r == want_r, f"range scan {k}")
            check(v0 == o.silver0, "time travel to version 0")

        def maintain():
            silver.compact()
            silver.vacuum(retain_last=1)

        out, maint_s = timed("compact_vacuum", maintain)
        check(not isinstance(out, Exception), "compact + vacuum")
        check(self._count_sum(silver.read()) == o.final,
                    "silver after compaction")
        p.wall_s = p.ingest_s + sum(p.op_s) + p.read_s + maint_s
        self._space = dir_bytes(lake) / self.source_bytes
        shutil.rmtree(lake, ignore_errors=True)
        spark.catalog.clearCache()
        return p

    @staticmethod
    def op_p50(passes) -> float:
        """Median latency of a MERGE batch (0 when the ingest failed and
        no batch ran; the run then reports a failure)."""
        ops = [t for p in passes for t in p.op_s]
        return median(ops) if ops else 0.0

    def space_amp(self) -> float:
        return self._space


def median(xs) -> float:
    return float(statistics.median(xs))
