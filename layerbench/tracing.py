"""Traced-run instrumentation, all of it from outside ``dask_spark``.

``Tracer`` reads Spark's status store (jobs and stages per job group),
the checksum action's Catalyst phase times, the physical plan, the
block manager's RDD storage, JMX and /proc, always between queries and
outside every clock. ``count_calls`` wraps the public entry points of
the materialization sites and the Arrow/Python-worker boundary so each
query's calls into them are counted exactly.

Spans form the tree query -> build | action -> job -> stage; each has
an id, its parent's id, start and end (epoch seconds) and attributes.
"""

from __future__ import annotations

import functools
import itertools
from types import SimpleNamespace

import procs

# (module, class or None, function) -> counter key. The classic
# DataFrame class is wrapped because it overrides the generic one.
_SITES = [
    ("pyspark.sql.classic.dataframe", "DataFrame", "mapInPandas",
     "arrow_sites"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "mapInArrow",
     "arrow_sites"),
    ("pyspark.sql.group", "GroupedData", "applyInPandas", "arrow_sites"),
    ("pyspark.sql.pandas.group_ops", "PandasCogroupedOps", "applyInPandas",
     "arrow_sites"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "localCheckpoint",
     "checkpoints"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "checkpoint",
     "checkpoints"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "persist", "checkpoints"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "cache", "checkpoints"),
    ("dask_spark.operators.sort", None, "_pin", "pins"),
]
COUNTERS = ("arrow_sites", "checkpoints", "pins", "gate_hits")


def count_calls(counts: dict) -> None:
    """Wrap every site in ``_SITES`` so each call bumps ``counts[key]``,
    and the graph cache gate so each call that cached bumps
    ``counts["gate_hits"]``. Installed only in traced runs."""
    import importlib

    for mod_name, owner, fn_name, key in _SITES:
        mod = importlib.import_module(mod_name)
        target = getattr(mod, owner) if owner else mod
        orig = getattr(target, fn_name)

        def wrapped(*a, _orig=orig, _key=key, **kw):
            counts[_key] += 1
            return _orig(*a, **kw)

        setattr(target, fn_name, functools.wraps(orig)(wrapped))

    graph = importlib.import_module("dask_spark.operators.graph")
    gate = graph._persist_if_big

    def gated(sdf):
        out = gate(sdf)
        counts["gate_hits"] += out is not sdf
        return out

    graph._persist_if_big = functools.wraps(gate)(gated)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class Tracer:
    """Collects spans and per-query counters for one traced run."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.cores = cores
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())

    def span(self, name, kind, start, end, parent=None, **attrs) -> int:
        sid = next(self._ids)
        self.spans.append({"id": sid, "parent": parent, "name": name,
                           "kind": kind, "start": start, "end": end,
                           **attrs})
        return sid

    def jvm_times(self) -> tuple[float, float]:
        """(JIT compile seconds, GC seconds) since JVM start."""
        gc = sum(b.getCollectionTime() for b in self._gcs)
        return self._comp.getTotalCompilationTime() / 1000.0, gc / 1000.0

    def jobs(self, group: str, parent: int) -> tuple[dict, list]:
        """Counters of the jobs in ``group``; adds job and stage spans.
        Returns (counters, [(submit, complete)] job intervals)."""
        c = dict.fromkeys(("jobs", "stages", "tasks", "run_s", "cpu_s",
                           "gc_s", "starved_s", "input_mb", "shuffle_write_mb",
                           "shuffle_read_mb", "spill_mb"), 0)
        intervals, seen = [], set()
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            jd = self.store.job(jid)
            start, end = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            c["jobs"] += 1
            if start is not None and end is not None:
                intervals.append((start, end))
            js = self.span(f"job {jid}", "job", start, end, parent,
                           status=jd.status().toString())
            ids = jd.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                run_s = sd.executorRunTime() / 1000.0
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                c["run_s"] += run_s
                c["cpu_s"] += sd.executorCpuTime() / 1e9
                c["gc_s"] += sd.jvmGcTime() / 1000.0
                if sd.numTasks() < self.cores:
                    c["starved_s"] += run_s
                c["input_mb"] += sd.inputBytes() / 2**20
                c["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                c["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                c["spill_mb"] += sd.diskBytesSpilled() / 2**20
                self.span(f"stage {sid}", "stage",
                          _opt_ms(sd.submissionTime()),
                          _opt_ms(sd.completionTime()), js,
                          tasks=sd.numTasks(), run_s=run_s)
        return c, intervals

    @staticmethod
    def catalyst(df) -> dict:
        """Phase seconds of the action's QueryExecution."""
        ph = df._jdf.queryExecution().tracker().phases()
        return {k: (ph.apply(k).durationMs() / 1000.0 if ph.contains(k)
                    else 0.0)
                for k in ("analysis", "optimization", "planning")}

    @staticmethod
    def plan(df) -> dict:
        from dask_spark import plans

        frame = SimpleNamespace(_sdf=df)
        return {"shuffles": plans.shuffle_count(frame),
                "codegen_stages": plans.codegen_stages(frame),
                "broadcast_joins": int(plans.uses_broadcast_join(frame))}

    def storage(self) -> tuple[float, int]:
        """(MB, cached partitions) held by the block manager now."""
        mb, blocks = 0.0, 0
        for info in self.sc._jsc.sc().getRDDStorageInfo():
            mb += (info.memSize() + info.diskSize()) / 2**20
            blocks += info.numCachedPartitions()
        return mb, blocks


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def python_workers(root: int) -> tuple[float, int, float]:
    """(CPU seconds, live workers, max VmHWM MB) of the pyspark daemon
    and its workers under the driver process ``root``."""
    ws = procs.spark_tree(root)["pyworkers"]
    cpu = sum(procs.cpu_s(p) for p in ws)
    rss = max((procs.vm_hwm_mb(p) for p in ws), default=0.0)
    return cpu, max(0, len(ws) - 1), rss
