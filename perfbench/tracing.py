"""In-memory span tracer for the traced run (``--trace 1``).

Wrappers are installed at runtime around the public calls of each
layer; the program's code is not edited. Each span records its name,
start, end, parent and a Spark job group of its own, so the jobs,
stages and tasks an op caused can be read back from
``statusTracker()`` once the op has finished.

Extra work done only in the traced run, timed per op (reported as
``trace.extra_s_per_op``) and booked against every span open while it
runs, so a span's ``own`` time leaves it out:

- the lazy outputs of ``truncate_interlace``, ``delta_count_prevalence``
  and every Simulist handler ``compute`` are materialized once to the
  ``noop`` sink (their ``exec_s``), with an ``observe`` row count;
- the cached input of ``delta_count_prevalence`` is built first when
  its buffers are not loaded yet (a plan-cache miss), so the delta
  count's ``exec_s`` times the delta-count plan alone;
- ``update_snapshot`` walks the table directory before and after
  (bytes and files written) and asks ``snapshot_diff`` how many rows
  the revision opened or closed;
- ``get_table`` reads ``inputFiles()`` of the frame it returns.

Auxiliary Spark jobs run under their own job group, so they are not
counted against the op.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    aux_s: float = 0.0  # traced-run-only work done inside the span
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def own(self) -> float:
        """Wall time without the traced-run-only work inside it."""
        return self.dur - self.aux_s


class Tracer:
    AUX_GROUP = "perfbench-aux"

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self.op_id: int | None = None
        self.extra_s = 0.0  # time spent in traced-run-only work, per op
        self._last_write_ts: dict[str, object] = {}
        self._undo: list = []
        self._in_aux = False

    # ------------------------------------------------------------ spans
    def _group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setJobGroup("perfbench-idle", "idle")
        else:
            self.sc.setJobGroup(f"perfbench-{span.sid}", span.name)

    def open(self, name: str) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        span = Span(next(self._ids), name, parent, self.op_id, 0.0)
        self.spans.append(span)
        self._stack.append(span)
        self._group(span)
        span.start = time.perf_counter()
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        self._group(self._stack[-1] if self._stack else None)

    def aux(self, fn):
        """Run traced-run-only work: own job group, time booked as extra
        and against every open span."""
        if self._in_aux:
            return fn()
        t = time.perf_counter()
        self.sc.setJobGroup(self.AUX_GROUP, "aux")
        self._in_aux = True
        try:
            return fn()
        finally:
            self._in_aux = False
            self._group(self._stack[-1] if self._stack else None)
            dt = time.perf_counter() - t
            self.extra_s += dt
            for span in self._stack:
                span.aux_s += dt

    def materialize(self, df: DataFrame) -> tuple[float, int]:
        """Run ``df`` once to the noop sink; (seconds, rows)."""
        def run():
            obs = Observation()
            t = time.perf_counter()
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                "noop"
            ).mode("overwrite").save()
            return time.perf_counter() - t, int(obs.get["n"])
        return self.aux(run)

    def plan_cached(self, df: DataFrame) -> bool | None:
        """Whether ``df``'s plan is in Spark's cache with its buffers
        already built (a plan-cache hit); None if that cannot be told."""
        try:
            cm = self.spark._jsparkSession.sharedState().cacheManager()
            found = cm.lookupCachedData(df._jdf)
            if found.isEmpty():
                return False
            builder = found.get().cachedRepresentation().cacheBuilder()
            return bool(builder.isCachedColumnBuffersLoaded())
        except Exception:
            return None

    # --------------------------------------------------------- wrapping
    def wrap(self, owner, attr: str, name: str, after=None, before=None):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if self._in_aux:  # traced-run-only work is not traced
                return orig(*args, **kwargs)
            pre = self.aux(lambda: before(args, kwargs)) if before else None
            span = self.open(name)
            try:
                out = orig(*args, **kwargs)
            finally:
                self.close(span)
            if after is not None:
                after(span, args, kwargs, out, pre)
            return out

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
        self.sc.setJobGroup("perfbench-idle", "idle")

    def install(self, store_cls) -> None:
        # by module path: the packages re-export same-named functions
        interlace_mod = importlib.import_module(
            "diseasystore_spark.operators.interlace"
        )
        store_mod = importlib.import_module("diseasystore_spark.plans.store")
        from diseasystore_spark.storage.scd2 import ParquetFeatureStore

        tr = self
        ps = ParquetFeatureStore
        self.wrap(store_mod.Diseasystore, "get_feature", "plans.store.get_feature")
        self.wrap(store_mod.Diseasystore, "key_join_features",
                  "plans.store.key_join_features")

        def missing_after(span, args, kwargs, out, pre):
            span.attrs["n_missing"] = len(out)
        self.wrap(store_mod.Diseasystore, "determine_missing_ranges",
                  "plans.store.determine_missing_ranges", after=missing_after)

        def logs_after(span, args, kwargs, out, pre):
            ldir = args[0]._logs_dir(args[1])
            span.attrs["log_file_count"] = (
                len(os.listdir(ldir)) if os.path.isdir(ldir) else 0
            )
        self.wrap(ps, "read_logs_pandas", "storage.scd2.read_logs",
                  after=logs_after)
        self.wrap(ps, "append_log", "storage.scd2.append_log")
        self.wrap(ps, "lock", "storage.scd2.lock_wait")
        self.wrap(ps, "table_stats", "storage.scd2.table_stats")

        def table_after(span, args, kwargs, out, pre):
            span.attrs["files"] = len(tr.aux(out.inputFiles))
        self.wrap(ps, "get_table", "storage.scd2.get_table", after=table_after)

        def snap_before(args, kwargs):
            backend, table_id = args[0], args[2]
            return _tree(backend._table_dir(table_id))

        def snap_after(span, args, kwargs, out, pre):
            backend, table_id, ts = args[0], args[2], args[3]
            now = tr.aux(lambda: _tree(backend._table_dir(table_id)))
            new = set(now) - set(pre)
            span.attrs["bytes_written"] = sum(now[p] for p in new)
            span.attrs["files_written"] = len(new)
            prev = tr._last_write_ts.get(table_id)
            tr._last_write_ts[table_id] = ts
            span.attrs["revision"] = prev is not None and prev < ts

            def diff():
                live = backend.get_table(table_id, ts).count()
                changed = (
                    backend.snapshot_diff(table_id, prev, ts).count()
                    if span.attrs["revision"]
                    else live
                )
                return changed, live
            span.attrs["rows_changed"], span.attrs["rows_live"] = tr.aux(diff)
        self.wrap(ps, "update_snapshot", "storage.scd2.update_snapshot",
                  before=snap_before, after=snap_after)

        # Lazy operators: plans.store binds them by name, so rebind there.
        def op_after(span, args, kwargs, out, pre):
            span.attrs["exec_s"], span.attrs["rows_out"] = tr.materialize(out)

        def interlace_after(span, args, kwargs, out, pre):
            inputs = [args[0], *(args[1] if len(args) > 1 else
                                 kwargs.get("secondary") or [])]
            span.attrs["rows_in"] = tr.aux(
                lambda: sum(df.count() for df in inputs)
            )
            bd = kwargs.get("bucket_days", "auto")
            span.attrs["bucket_days"] = (
                span.attrs.get("resolved_bucket_days", 0)
                if bd == "auto" else int(bd or 0)
            )
            op_after(span, args, kwargs, out, pre)
        self.wrap(store_mod, "truncate_interlace", "operators.interlace",
                  after=interlace_after)

        def resolve_after(span, args, kwargs, out, pre):
            for parent in reversed(tr.spans):
                if parent.sid == span.parent:
                    parent.attrs["resolved_bucket_days"] = int(out or 0)
                    break
        self.wrap(interlace_mod, "resolve_bucket_days",
                  "operators.interlace.resolve_bucket_days", after=resolve_after)

        def cached_before(args, kwargs):
            hit = tr.plan_cached(args[0])
            if not hit:  # build the input cache outside the delta count
                tr.materialize(args[0])
            return hit

        def delta_after(span, args, kwargs, out, pre):
            span.attrs["plan_cache_hit"] = pre
            op_after(span, args, kwargs, out, pre)
        self.wrap(store_mod, "delta_count_prevalence", "operators.delta_count",
                  before=cached_before, after=delta_after)

        for loader in store_cls._ds_map.values():
            self.wrap(getattr(store_cls, loader), "compute",
                      f"stores.simulist.compute.{loader}", after=op_after)

    # ------------------------------------------------------ job counts
    def op_counts(self, op_id: int) -> tuple[int, int, int]:
        """(jobs, stages, tasks) run under the job groups of ``op_id``'s
        spans."""
        st = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for span in self.spans:
            if span.op != op_id:
                continue
            for jid in st.getJobIdsForGroup(f"perfbench-{span.sid}"):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for stage_id in info.stageIds:
                    stage = st.getStageInfo(stage_id)
                    if stage is not None:
                        stages += 1
                        tasks += stage.numTasks
        return jobs, stages, tasks


def _tree(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out

