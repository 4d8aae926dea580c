"""Per-layer spans recorded from the benchmark's own files.

``Tracer.install()`` replaces each traced engine function at every name a
caller resolves it by: the method on its class, the module attribute, and
each engine module that imported the function by name. Spans stay in memory;
``metrics()`` turns them into the per-layer metrics and ``dump()`` writes
them out when the run ends.

Spark figures come from Spark's status store. The engine submits many jobs
from its own worker threads, which would not carry a job group set on the
calling thread, so a span owns the jobs whose ids were assigned while it was
open. That is exact for spans opened on
the main thread, because one client runs one operation at a time; spans
opened on worker threads carry no Spark figures.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from contextlib import contextmanager

from perfbench.summary import median

PKG = "e2e_ocsf_cyber_lakehouse_blueprint_spark"


def _counts_compaction(res, args):
    return {"files_in": res.files_in, "files_out": res.files_out,
            "bytes_in": res.bytes_in, "bytes_out": res.bytes_out}


def _counts_clustering(res, args):
    return {"files_out": res.files_out}


def _counts_merge(res, args):
    return {"files_scoped": res.files_scoped, "files_total": res.files_total}


def _counts_delete(res, args):
    return {"files_rewritten": res.files_rewritten}


def _counts_expire(res, args):
    return {"files_deleted": res.deleted_files}


def _counts_plan_scan(res, args):
    return {"files_kept": len(res)}


def _counts_read_manifest(res, args):
    return {"entries": len(res)}


def _counts_manifest_list(res, args):
    return {"manifests": len(res),
            "entries": sum(r.get("added_files_count", 0)
                           + r.get("existing_files_count", 0) for r in res)}


def _counts_prune(res, args):
    return {"files_examined": len(args[0]), "files_kept": len(res)}


def _delete_name(self_obj):
    return "delete_mor" if self_obj.mode == "merge-on-read" else "delete_cow"


# (module, attribute, span name, counts(result, args), spark figures?)
# the attribute is "Class.method" for methods; the span name may be a
# callable of the bound object
TARGETS = [
    ("operators.compaction", "CompactionJob.run", "compaction", _counts_compaction, True),
    ("operators.clustering", "ClusteringJob.run", "clustering", _counts_clustering, True),
    ("operators.merge", "MergeIntoJob.run", "merge", _counts_merge, True),
    ("operators.upsert", "upsert", "upsert", None, True),
    ("operators.delete", "DeleteJob.run", _delete_name, _counts_delete, True),
    ("operators.maintain", "run_maintenance", "maintain", None, True),
    ("operators.expire", "ExpireSnapshotsJob.run", "expire", _counts_expire, True),
    ("operators.manifests", "RewriteManifestsJob.run", "rewrite_manifests", None, True),
    ("format.table", "Table.append", "append", None, True),
    ("format.table", "Table.plan_scan", "plan_scan", _counts_plan_scan, False),
    ("format.manifest", "read_manifest", "manifest.read", _counts_read_manifest, False),
    ("format.manifest", "read_manifest_list", "manifest_list.read", _counts_manifest_list, False),
    ("format.avro", "read_ocf", "avro.read_ocf", None, False),
    ("format.stats", "harvest_file_stats", "harvest", None, True),
    ("format.snapshot", "commit_metadata", "commit", None, False),
    ("plans.pruning", "prune_files", "prune", _counts_prune, False),
    ("plans.pruning", "prune_manifest_records", "prune_manifests", None, False),
    ("plans.agg_pushdown", "metadata_agg", "metadata_agg", None, True),
]

# span name -> layer (package module) for the self-time table
LAYER_OF = {name: mod for mod, _, name, _, _ in TARGETS if isinstance(name, str)}
LAYER_OF.update(delete_mor="operators.delete", delete_cow="operators.delete")

SPARK_FIELDS = ("exec_run_s", "exec_cpu_s", "gc_s", "shuffle_write_bytes",
                "spill_bytes", "tasks")


class Span:
    __slots__ = ("sid", "name", "parent", "op", "thread", "start", "end",
                 "counts", "spark", "cpu_s")

    def __init__(self, sid, name, parent, op, thread, start):
        self.sid, self.name, self.parent, self.op = sid, name, parent, op
        self.thread, self.start, self.end = thread, start, None
        self.counts: dict = {}
        self.spark: dict | None = None
        self.cpu_s: float | None = None

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class SparkJobs:
    """Status-store figures for the jobs assigned ids in an interval."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()

    def last_job_id(self) -> int:
        return max(self.tracker.getJobIdsForGroup(None), default=-1)

    def figures_since(self, last_id: int) -> dict:
        out = dict.fromkeys(SPARK_FIELDS, 0)
        stages = set()
        for jid in self.tracker.getJobIdsForGroup(None):
            if jid <= last_id:
                continue
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        for sid in stages:
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # a skipped stage has no attempt
                continue
            out["exec_run_s"] += st.executorRunTime() / 1e3
            out["exec_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["tasks"] += st.numTasks()
        return out


class Tracer:
    def __init__(self, spark):
        self.jobs = SparkJobs(spark)
        self.spans: list[Span] = []
        self.ops: list[Span] = []
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: Span | None = None
        self._main = threading.get_ident()
        self._undo: list[tuple[object, str, object]] = []

    # ----------------------------------------------------------- spans

    def _open(self, name: str, spark_figures: bool) -> tuple[Span, int | None]:
        t0 = time.perf_counter()
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1].sid if stack else (self._op.sid if self._op else None)
        with self._lock:
            span = Span(len(self.spans), name, parent,
                        self._op.sid if self._op else None,
                        threading.get_ident(), 0.0)
            self.spans.append(span)
        stack.append(span)
        last = None
        if spark_figures and span.thread == self._main:
            last = self.jobs.last_job_id()
            span.cpu_s = sum(os.times()[:2])
        self.overhead_s += time.perf_counter() - t0
        span.start = time.perf_counter()
        return span, last

    def _close(self, span: Span, last: int | None) -> None:
        span.end = time.perf_counter()
        if last is not None:
            span.cpu_s = sum(os.times()[:2]) - span.cpu_s
            span.spark = self.jobs.figures_since(last)
        self._local.stack.pop()
        self.overhead_s += time.perf_counter() - span.end

    @contextmanager
    def op(self, kind: str):
        """A top-level operation of the workload loop."""
        span, last = self._open(kind, True)
        self._op = span
        self.ops.append(span)
        try:
            yield span
        finally:
            self._op = None
            self._close(span, last)

    def _wrap(self, fn, name, counts, spark_figures, bound: bool):
        tracer = self

        def traced(*args, **kwargs):
            if tracer._op is None:  # outside the loop's timed operations
                return fn(*args, **kwargs)
            span_name = name(args[0]) if callable(name) else name
            span, last = tracer._open(span_name, spark_figures)
            try:
                res = fn(*args, **kwargs)
                if counts is not None:
                    span.counts = counts(res, args[1:] if bound else args)
                return res
            finally:
                tracer._close(span, last)

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", "traced")
        return traced

    # ------------------------------------------------------ install

    def install(self) -> None:
        import importlib

        for mod_name, attr, name, counts, spark_figures in TARGETS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                self._set(cls, meth, self._wrap(orig, name, counts,
                                                spark_figures, True))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, name, counts, spark_figures, False)
            # every engine module that bound the function by name
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PKG):
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            self._set(m, k, wrapped)

    def _set(self, owner, attr, value) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # ------------------------------------------------------ summary

    def self_times(self) -> dict[str, float]:
        """Seconds per layer: each span's time minus the part of it that
        its child spans cover (children on worker threads may overlap)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s.end is None:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(children.get(s.sid, ()), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end or s.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            # a loop operation's own time is engine code between the traced
            # layers plus the wait for its Spark jobs
            layer = (f"op.{s.name}" if s.op is None and s.parent is None
                     else LAYER_OF.get(s.name, s.name))
            out[layer] = out.get(layer, 0.0) + (s.end - s.start) - covered
        return out

    def _by_name(self, name: str, keep=None) -> list[Span]:
        """Closed engine-call spans of ``name`` that ``keep`` accepts; a loop
        operation's own span (no parent) may carry the same name and is
        left out."""
        return [s for s in self.spans
                if s.name == name and s.parent is not None and s.end is not None
                and (keep is None or keep(s))]

    def _run_s(self, name: str, keep=None) -> float:
        spans = self._by_name(name, keep)
        return median([s.end - s.start for s in spans]) if spans else 0.0

    def _mean_count(self, name: str, key: str, keep=None) -> float:
        spans = self._by_name(name, keep)
        return (sum(s.counts.get(key, 0) for s in spans) / len(spans)
                if spans else 0.0)

    def _per_op(self, name: str, value) -> float:
        n = max(1, len(self.ops))
        return sum(value(s) for s in self._by_name(name)) / n

    def metrics(self) -> dict[str, tuple[float, str]]:
        """Per-layer metrics: ``X.run_s`` is the median time of one call,
        counts are means per call, and ``manifest.*``, ``commit.count``,
        ``spark.*`` and ``driver.cpu_s`` are means per loop operation."""
        # compaction figures count only the passes that rewrote files: an
        # append's auto-compaction check that finds nothing to do would
        # otherwise set them
        rewrote = lambda s: s.counts.get("files_in", 0) > 0  # noqa: E731
        m: dict[str, tuple[float, str]] = {
            "compaction.run_s": (self._run_s("compaction", rewrote), "s")}
        for name in ("clustering", "merge", "upsert",
                     "delete_mor", "delete_cow", "maintain", "expire",
                     "rewrite_manifests", "append", "plan_scan", "harvest",
                     "commit", "prune", "metadata_agg"):
            m[f"{name}.run_s"] = (self._run_s(name), "s")
        for key in ("files_in", "files_out", "bytes_in", "bytes_out"):
            m[f"compaction.{key}"] = (
                self._mean_count("compaction", key, rewrote),
                "bytes" if key.startswith("bytes") else "count")
        m["clustering.files_out"] = (self._mean_count("clustering", "files_out"), "count")
        merges = self._by_name("merge")
        total = sum(s.counts.get("files_total", 0) for s in merges)
        m["merge.files_scoped_frac"] = (
            sum(s.counts.get("files_scoped", 0) for s in merges) / total
            if total else 0.0, "ratio")
        m["delete_cow.files_rewritten"] = (
            self._mean_count("delete_cow", "files_rewritten"), "count")
        m["expire.files_deleted"] = (self._mean_count("expire", "files_deleted"), "count")
        m["manifests.count"] = (self._mean_count("manifest_list.read", "manifests"), "count")
        m["plan_scan.files_kept"] = (self._mean_count("plan_scan", "files_kept"), "count")
        # live entries the scanned snapshots list, from the manifest lists
        # that plan_scan read
        lists = [s for s in self._by_name("manifest_list.read")
                 if s.parent is not None and self.spans[s.parent].name == "plan_scan"]
        m["plan_scan.files_live"] = (
            sum(s.counts["entries"] for s in lists) / len(lists) if lists else 0.0,
            "count")
        m["manifest.reads"] = (self._per_op("manifest.read", lambda s: 1), "count")
        m["manifest.entries_decoded"] = (
            self._per_op("manifest.read", lambda s: s.counts.get("entries", 0)), "count")
        m["manifest.decode_s"] = (
            self._per_op("avro.read_ocf", lambda s: s.end - s.start), "s")
        m["commit.count"] = (self._per_op("commit", lambda s: 1), "count")
        m["prune.files_examined"] = (self._mean_count("prune", "files_examined"), "count")
        m["prune.files_kept"] = (self._mean_count("prune", "files_kept"), "count")
        n = max(1, len(self.ops))
        for f in SPARK_FIELDS:
            unit = "s" if f.endswith("_s") else ("bytes" if f.endswith("bytes") else "count")
            m[f"spark.{f}"] = (sum(s.spark[f] for s in self.ops if s.spark) / n, unit)
        m["driver.cpu_s"] = (sum(s.cpu_s or 0.0 for s in self.ops) / n, "s")
        m["trace.overhead_s"] = (self.overhead_s / n, "s")
        return m

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra,
                       "self_time_s": self.self_times(),
                       "metrics": {k: v for k, (v, _) in self.metrics().items()},
                       "spans": [s.as_dict() for s in self.spans]}, fh)
