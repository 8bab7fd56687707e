"""Span tracer for the traced benchmark run.

Spans are recorded from outside the program: ``install`` rebinds each
public entry point of a layer (module functions and ``VersionedTable``
methods) to a wrapper in every package module that holds it, because
queries import operators by name.  A span holds its name, layer, start,
end, parent and run id.  Entering a span tags the calling thread with a
Spark job group named after the span, so the event log attributes every
job and stage to the innermost open span; leaving restores the parent's
group.  ``layer_metrics`` joins the spans with an event-log replay.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import time
from collections import Counter, defaultdict

PKG = "spark_delta_lakehouse_nyctaxi_spark"

# layer name -> (module, names); names=None means every public function
# defined in that module.
MODULE_LAYERS = {
    "readers": (f"{PKG}.sources.readers",
                ["load_table", "load_table_widened", "load_star", "read_parquet"]),
    "dedup": (f"{PKG}.operators.dedup", None),
    "checkpoint": (f"{PKG}.operators.checkpoint", ["reliable_checkpoint"]),
    "similarity": (f"{PKG}.operators.similarity", None),
    "quality": (f"{PKG}.quality", ["default_framework_from_config"]),
    "audit": (f"{PKG}.audit", ["generate_run_id"]),
    "pipeline": (f"{PKG}.pipeline.jobs",
                 ["run_pipeline", "run_bronze_job", "run_silver_job",
                  "run_gold_job", "silver_transform"]),
}
# layer name -> (module, class, methods); methods=None means every
# public method defined on the class.
CLASS_LAYERS = [
    ("table", f"{PKG}.sources.table", "VersionedTable",
     ["write", "merge", "read", "scan", "compact", "vacuum"]),
    ("quality", f"{PKG}.quality", "DataQualityFramework", None),
    ("audit", f"{PKG}.audit", "DQMetricsStore", None),
    ("audit", f"{PKG}.audit", "AuditLog", None),
    ("audit", f"{PKG}.audit", "PipelineMetrics", None),
]
TABLE_WRITERS = ("write", "merge", "compact")


def _files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Tracer:
    """Records spans for one traced run.  Create it with the session and
    ``install()`` it before the first pass: while ``enabled`` is false the
    wrappers only note which frames ``load_table`` has returned, so a
    memo hit in the traced pass is recognised.  ``uninstall()`` at the
    end."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []
        self._seen_frames: dict[int, object] = {}
        self.pass_idx = 0
        self.enabled = False

    # ------------------------------------------------------------ spans
    def _enter(self, name: str, layer: str) -> dict:
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "run_id": f"{self.run_id}.{self.pass_idx}",
            "pass": self.pass_idx,
            "start": time.perf_counter(),
            "end": None,
            "info": {},
        }
        span["group"] = f"pb.{self.run_id}.{span['id']}"
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(span["group"], f"{layer}:{name}")
        return span

    def _exit(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack.pop()
        if self._stack:
            p = self._stack[-1]
            self.sc.setJobGroup(p["group"], f"{p['layer']}:{p['name']}")
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def span(self, name: str, layer: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.s = tracer._enter(name, layer) if tracer.enabled else None
                return self.s

            def __exit__(self, *exc):
                if self.s is not None:
                    tracer._exit(self.s)
                return False

        return _Span()

    # ---------------------------------------------------------- patching
    def _wrap(self, fn, name: str, layer: str, method: bool):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                out = fn(*args, **kwargs)
                if name == "load_table":  # frames a later memo hit returns
                    tracer._seen_frames[id(out)] = out
                return out
            span = tracer._enter(name, layer)
            before = None
            if layer == "table" and method and name in TABLE_WRITERS:
                before = _files(args[0].path)
            try:
                out = fn(*args, **kwargs)
            except Exception as e:
                span["info"]["error"] = type(e).__name__
                raise
            finally:
                tracer._exit(span)
            span["ret_id"] = id(out)
            tracer._observe(span, name, layer, args, out, before)
            return out

        return wrapper

    def _observe(self, span, name, layer, args, out, before) -> None:
        info = span["info"]
        if layer == "readers" and name == "load_table":
            info["memo_hit"] = id(out) in self._seen_frames
            self._seen_frames[id(out)] = out  # pin: ids stay unique
        elif layer == "table":
            table = args[0]
            if before is not None:
                after = _files(table.path)
                new = [p for p in after if p not in before]
                info["files_written"] = sum(
                    1 for p in new if "/data/" in p and not p.endswith(".crc")
                )
                info["bytes_written"] = sum(after[p] for p in new)
            if name in ("read", "scan"):
                try:
                    files = out.inputFiles()
                    info["units"] = len({os.path.dirname(f) for f in files})
                except Exception:  # an empty snapshot has no files
                    info["units"] = 0
            if name == "scan":
                ls = getattr(table, "last_scan", None) or {}
                info["kept"] = ls.get("kept", 0)
                info["skipped"] = ls.get("skipped", 0)
        elif layer == "pipeline" and isinstance(out, dict):
            if name == "run_bronze_job":
                info["rows_in"] = out.get("initial_row_count", 0)
            elif name == "run_silver_job":
                info["rows_out"] = out.get("final_row_count", 0)

    def _commit_wrapper(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled or not tracer._stack:
                return fn(*args, **kwargs)
            info = tracer._stack[-1]["info"]
            try:
                out = fn(*args, **kwargs)
            except Exception as e:
                if type(e).__name__ == "ConcurrentWriteError":
                    info["commit_retries"] = info.get("commit_retries", 0) + 1
                raise
            info["commits"] = info.get("commits", 0) + 1
            return out

        return wrapper

    def _rebind(self, original, wrapper) -> None:
        """Point every package module attribute that holds ``original``
        at ``wrapper`` (queries import operators by name)."""
        for mname, mod in list(sys.modules.items()):
            if not (mname == PKG or mname.startswith(PKG + ".")) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, attr, wrapper)
                    self._patched.append((mod, attr, original))

    def install(self) -> None:
        import importlib
        import pkgutil

        pkg = importlib.import_module(PKG)
        for info in pkgutil.walk_packages(pkg.__path__, PKG + "."):
            importlib.import_module(info.name)
        for layer, (mname, names) in MODULE_LAYERS.items():
            mod = importlib.import_module(mname)
            if names is None:
                names = [
                    n for n, v in vars(mod).items()
                    if inspect.isfunction(v) and not n.startswith("_")
                    and v.__module__ == mname
                ]
            for n in names:
                fn = getattr(mod, n)
                self._rebind(fn, self._wrap(fn, n, layer, method=False))
        for layer, mname, cname, methods in CLASS_LAYERS:
            cls = getattr(importlib.import_module(mname), cname)
            if methods is None:
                methods = [
                    n for n, v in vars(cls).items()
                    if inspect.isfunction(v) and not n.startswith("_")
                ]
            for n in methods:
                fn = vars(cls)[n]
                setattr(cls, n, self._wrap(fn, n, layer, method=True))
                self._patched.append((cls, n, fn))
        table_cls = getattr(importlib.import_module(f"{PKG}.sources.table"),
                            "VersionedTable")
        commit = vars(table_cls).get("_commit")
        if commit is None:
            print("perfbench: VersionedTable._commit not found; "
                  "table.commits reads 0", file=sys.stderr)
        else:
            setattr(table_cls, "_commit", self._commit_wrapper(commit))
            self._patched.append((table_cls, "_commit", commit))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # ----------------------------------------------------------- metrics
    def _ancestors(self, span: dict):
        p = span["parent"]
        while p is not None:
            yield self.spans[p]
            p = self.spans[p]["parent"]

    def _top(self, span: dict, layer: str) -> bool:
        """True if no ancestor belongs to ``layer`` (outermost call)."""
        return span["layer"] == layer and all(
            a["layer"] != layer for a in self._ancestors(span)
        )

    def layer_metrics(self, events: "EventLog", pass_idx: int,
                      cores: int) -> dict[str, float]:
        """Every layer metric of traced pass ``pass_idx``."""
        spans = [s for s in self.spans if s["pass"] == pass_idx and s["end"]]
        by_group = {s["group"]: s for s in spans}
        layer_jobs: dict[str, set] = defaultdict(set)
        pass_jobs = set()
        for jid, job in events.jobs.items():
            s = by_group.get(job["group"])
            if s is None:
                continue
            pass_jobs.add(jid)
            for a in [s, *self._ancestors(s)]:
                layer_jobs[a["layer"]].add(jid)

        def dur(s):
            return s["end"] - s["start"]

        child_time: dict[int, float] = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += dur(s)

        def layer_time(layer, names=None):
            return sum(dur(s) for s in spans if self._top(s, layer)
                       and (names is None or s["name"] in names))

        def step_time(layer, name):
            return sum(dur(s) for s in spans if s["layer"] == layer
                       and s["name"] == name)

        def self_time(layer):
            return sum(dur(s) - child_time[s["id"]] for s in spans
                       if s["layer"] == layer)

        def stages_of(jobs):
            return [st for j in jobs for st in events.job_stages(j)]

        m: dict[str, float] = {}
        # readers
        reads = [s for s in spans if self._top(s, "readers")]
        loads = [s for s in spans if s["name"] == "load_table"]
        m["readers.calls"] = len(reads)
        m["readers.s"] = layer_time("readers")
        m["readers.self_s"] = self_time("readers")
        m["readers.memo_hit_ratio"] = (
            sum(s["info"].get("memo_hit", False) for s in loads) / len(loads)
            if loads else 0.0)
        # query plan construction
        bjobs = layer_jobs["queries"]
        m["queries.build_s"] = layer_time("queries")
        m["queries.self_s"] = self_time("queries")
        m["queries.build_jobs"] = len(bjobs)
        m["queries.build_stages"] = len(stages_of(bjobs))
        m["queries.exec_s"] = layer_time("execute")
        # dedup / checkpoint / similarity
        m["dedup.s"] = layer_time("dedup")
        m["dedup.self_s"] = self_time("dedup")
        m["dedup.jobs"] = len(layer_jobs["dedup"])
        kids = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        adaptive = [s for s in spans if s["name"] == "jaccard_pairs_adaptive"]
        m["dedup.branch_grouped"] = sum(
            any(k["name"] == "jaccard_pairs_grouped" for k in kids[s["id"]])
            for s in adaptive)
        m["dedup.branch_prefix"] = sum(
            any(k["name"] == "prefix_filter_candidates" for k in kids[s["id"]])
            for s in adaptive)
        clusters = [s for s in spans if s["name"] == "duplicate_clusters"]
        dist = sum(
            any(k["name"] == "reliable_checkpoint"
                and k.get("ret_id") == s.get("ret_id") for k in kids[s["id"]])
            for s in clusters)
        m["dedup.clusters_local"] = len(clusters) - dist
        m["dedup.clusters_distributed"] = dist
        m["checkpoint.calls"] = sum(1 for s in spans if self._top(s, "checkpoint"))
        m["checkpoint.s"] = layer_time("checkpoint")
        m["similarity.s"] = layer_time("similarity")
        m["similarity.self_s"] = self_time("similarity")
        m["similarity.jobs"] = len(layer_jobs["similarity"])
        # versioned tables
        tspans = [s for s in spans if s["layer"] == "table"]
        top_t = [s for s in tspans if self._top(s, "table")]
        m["table.write_s"] = layer_time("table", {"write"})
        m["table.merge_s"] = layer_time("table", {"merge"})
        m["table.read_s"] = layer_time("table", {"read", "scan"})
        m["table.compact_s"] = layer_time("table", {"compact"})
        m["table.vacuum_s"] = layer_time("table", {"vacuum"})
        m["table.self_s"] = self_time("table")
        m["table.commits"] = sum(s["info"].get("commits", 0) for s in tspans)
        m["table.commit_retries"] = sum(
            s["info"].get("commit_retries", 0) for s in tspans)
        m["table.files_written"] = sum(
            s["info"].get("files_written", 0) for s in top_t)
        m["table.mb_written"] = sum(
            s["info"].get("bytes_written", 0) for s in top_t) / 2**20
        reads_t = [s for s in top_t if "units" in s["info"]]
        m["table.units_per_read"] = (
            sum(s["info"]["units"] for s in reads_t) / len(reads_t)
            if reads_t else 0.0)
        kept = sum(s["info"].get("kept", 0) for s in top_t)
        skipped = sum(s["info"].get("skipped", 0) for s in top_t)
        m["table.scan_skip_ratio"] = skipped / (kept + skipped) if kept + skipped else 0.0
        # quality / audit / pipeline
        for layer in ("quality", "audit"):
            m[f"{layer}.s"] = layer_time(layer)
            m[f"{layer}.self_s"] = self_time(layer)
            m[f"{layer}.jobs"] = len(layer_jobs[layer])
        m["audit.mb_written"] = sum(
            s["info"].get("bytes_written", 0) for s in tspans
            if any(a["layer"] == "audit" for a in self._ancestors(s))
            and self._top(s, "table")) / 2**20
        for step in ("bronze", "silver", "gold"):
            m[f"pipeline.{step}_s"] = step_time("pipeline", f"run_{step}_job")
        m["pipeline.self_s"] = self_time("pipeline")
        m["pipeline.rows_in"] = sum(s["info"].get("rows_in", 0) for s in spans)
        m["pipeline.rows_out"] = sum(s["info"].get("rows_out", 0) for s in spans)
        # the engine under the package
        m.update(events.engine_metrics(pass_jobs, cores))
        m["spark.plan_ms"] = sum(s["info"].get("plan_ms", 0.0) for s in spans)
        m["trace.spans"] = len(spans)
        return m


class EventLog:
    """Replay of a Spark JSON event log: jobs with their job group, and
    completed stages with their aggregated task metrics."""

    PY_METRICS = ("data sent to Python workers", "data returned from Python workers")

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    self.jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    acc = Counter()
                    for a in si.get("Accumulables", []):
                        try:
                            acc[a.get("Name")] += float(a.get("Value") or 0)
                        except (TypeError, ValueError):
                            pass
                    self.stages[si["Stage ID"]] = {
                        "tasks": si.get("Number of Tasks", 0),
                        "wall_ms": (si.get("Completion Time") or 0)
                        - (si.get("Submission Time") or 0),
                        "acc": acc,
                    }

    def job_stages(self, jid: int) -> list[dict]:
        return [self.stages[s] for s in self.jobs[jid]["stages"]
                if s in self.stages]

    def engine_metrics(self, jobs: set, cores: int) -> dict[str, float]:
        stages = [st for j in sorted(jobs) for st in self.job_stages(j)]

        def acc(name):
            return sum(st["acc"][name] for st in stages)

        run_s = acc("internal.metrics.executorRunTime") / 1e3
        wall_core_s = sum(st["wall_ms"] for st in stages) / 1e3 * cores
        mb = 2.0 ** 20
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(st["tasks"] for st in stages),
            "spark.task_run_s": run_s,
            "spark.task_cpu_s": acc("internal.metrics.executorCpuTime") / 1e9,
            "spark.gc_s": acc("internal.metrics.jvmGCTime") / 1e3,
            "spark.idle_core_s": max(0.0, wall_core_s - run_s),
            "spark.shuffle_read_mb": (
                acc("internal.metrics.shuffle.read.remoteBytesRead")
                + acc("internal.metrics.shuffle.read.localBytesRead")) / mb,
            "spark.shuffle_write_mb":
                acc("internal.metrics.shuffle.write.bytesWritten") / mb,
            "spark.spill_mb": acc("internal.metrics.diskBytesSpilled") / mb,
            "spark.input_mb": acc("internal.metrics.input.bytesRead") / mb,
            "spark.python_mb": sum(acc(n) for n in self.PY_METRICS) / mb,
        }


def plan_ms(df) -> float:
    """Analysis + optimization + planning time of ``df``'s query, from
    its QueryExecution tracker (forces physical planning, runs no job)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.iterator()
    total = 0.0
    while it.hasNext():
        kv = it.next()
        ph = kv._2()
        total += ph.endTimeMs() - ph.startTimeMs()
    return float(total)
