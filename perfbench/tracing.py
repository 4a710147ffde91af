"""Span tracing for the benchmark's traced runs.

Spans come only from wrappers this module installs around public engine
functions; the engine itself is not modified:

- ``catalog.load_table`` / ``load_tables`` / ``table_row_count``;
- ``memo.MemoDict`` get and set (traced memos only), plus a ``memo.build``
  span from a miss to the set on the same key;
- the ``sources.io`` readers and writers;
- ``streaming.pipelines.run_to_memory``;
- the registry callables (``construct``) and ``DataFrameWriter.save``
  (``execute`` when called outside construction).

Each span is ``(name, start, end, parent, query id)``. Jobs are labelled
with ``setJobGroup("perfbench:<query id>:<layer>")`` for the construct,
catalog and execute layers and read back from Spark's status tracker and
status store after each query. A ``StreamingQueryListener`` records
micro-batch progress. Everything stays in memory until ``dump``.

``install`` must run before ``aws_saas_etl_spark.registry`` is imported:
operator modules bind ``load_table``/``load_tables`` by name at import.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from contextlib import contextmanager

IO_FUNCS = (
    "read_csv",
    "write_csv",
    "read_json",
    "read_parquet",
    "write_parquet",
    "read_jdbc",
    "write_jdbc",
    "compact_parquet",
    "write_partitioned",
    "read_csv_with_corrupt_capture",
    "csv_with_corrupt_capture",
)
# Writer → (positional index, keyword) of the directory it writes.
IO_OUTPUT_ARG = {
    "write_csv": (1, "path"),
    "write_parquet": (1, "path"),
    "write_partitioned": (1, "path"),
    "compact_parquet": (2, "dst"),
}
CATALOG_FUNCS = ("load_table", "load_tables", "table_row_count")
GROUP_PREFIX = "perfbench"
JOB_LAYERS = ("construct", "catalog", "execute")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.qid: str | None = None
        self.sc = None
        self.pending_builds: dict[tuple, tuple[float, int | None, str | None]] = {}
        self.progress: list[dict] = []
        self.jobs: dict[str, dict[str, list[int]]] = {}
        self.stage_rows: list[dict] = []

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self.stack[-1] if self.stack else None,
            "qid": self.qid,
            **attrs,
        }
        self.spans.append(rec)
        self.stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()

    def _inside(self, prefix: str) -> bool:
        return any(self.spans[i]["name"].startswith(prefix) for i in self.stack)

    @contextmanager
    def job_group(self, layer: str):
        """Label jobs launched inside the block with ``layer`` and restore
        the enclosing label afterwards."""
        if self.sc is None or self.qid is None:
            yield
            return
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(f"{GROUP_PREFIX}:{self.qid}:{layer}", layer)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    # -- wrappers ----------------------------------------------------------

    def _wrap_catalog(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self._inside("catalog."):
                with self.span(f"catalog.{name}"):
                    return fn(*args, **kwargs)
            with self.span(f"catalog.{name}"), self.job_group("catalog"):
                return fn(*args, **kwargs)

        return wrapper

    def _wrap_io(self, name: str, fn):
        out_arg = IO_OUTPUT_ARG.get(name)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(f"sources.io.{name}") as rec:
                result = fn(*args, **kwargs)
                if out_arg is not None:
                    idx, key = out_arg
                    path = kwargs.get(key, args[idx] if len(args) > idx else None)
                    if isinstance(path, str) and os.path.isdir(path):
                        rec["bytes_written"] = dir_bytes(path)
                return result

        return wrapper

    def _wrap_drain(self, fn):
        @functools.wraps(fn)
        def wrapper(stream_df, query_name, *args, **kwargs):
            with self.span("streaming.drain", query=query_name):
                return fn(stream_df, query_name, *args, **kwargs)

        return wrapper

    def wrap_query(self, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span("construct"), self.job_group("construct"):
                return fn(*args, **kwargs)

        return wrapper

    def _memo_get(self, memo, key, hit: bool) -> None:
        with self.span("memo.get", memo=memo.name, hit=hit):
            pass
        if not hit:
            parent = self.stack[-1] if self.stack else None
            self.pending_builds[(id(memo), key)] = (time.perf_counter(), parent, self.qid)

    def _memo_set(self, memo, key) -> None:
        with self.span("memo.set", memo=memo.name):
            pass
        miss = self.pending_builds.pop((id(memo), key), None)
        if miss is not None:
            start, parent, qid = miss
            self.spans.append(
                {
                    "name": "memo.build",
                    "start": start,
                    "end": time.perf_counter(),
                    "parent": parent,
                    "qid": qid,
                    "memo": memo.name,
                }
            )

    def install(self) -> None:
        """Patch the engine's public functions. Call before importing
        ``aws_saas_etl_spark.registry``."""
        from pyspark.sql.readwriter import DataFrameWriter

        from aws_saas_etl_spark import catalog, memo
        from aws_saas_etl_spark.sources import io
        from aws_saas_etl_spark.streaming import pipelines

        for name in CATALOG_FUNCS:
            setattr(catalog, name, self._wrap_catalog(name, getattr(catalog, name)))
        for name in IO_FUNCS:
            setattr(io, name, self._wrap_io(name, getattr(io, name)))
        pipelines.run_to_memory = self._wrap_drain(pipelines.run_to_memory)

        tracer = self
        orig_get = memo.MemoDict.get
        orig_getitem = memo.MemoDict.__getitem__
        orig_setitem = memo.MemoDict.__setitem__

        def get(self, key, default=None):
            if self.traced:
                tracer._memo_get(self, key, dict.__contains__(self, key))
            return orig_get(self, key, default)

        def getitem(self, key):
            if self.traced:
                tracer._memo_get(self, key, dict.__contains__(self, key))
            return orig_getitem(self, key)

        def setitem(self, key, value):
            if self.traced:
                tracer._memo_set(self, key)
            return orig_setitem(self, key, value)

        memo.MemoDict.get = get
        memo.MemoDict.__getitem__ = getitem
        memo.MemoDict.__setitem__ = setitem

        save = DataFrameWriter.save

        @functools.wraps(save)
        def traced_save(writer, *args, **kwargs):
            if self._inside("construct"):
                with self.span("save"):
                    return save(writer, *args, **kwargs)
            with self.span("execute"), self.job_group("execute"):
                return save(writer, *args, **kwargs)

        DataFrameWriter.save = traced_save

    def attach(self, spark) -> None:
        """Bind to the running session and register the stream listener."""
        from pyspark.sql.streaming import StreamingQueryListener

        self.sc = spark.sparkContext
        tracer = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                tracer.progress.append(
                    {
                        "qid": tracer.qid,
                        "query": p.name,
                        "run": str(p.runId),
                        "input_rows": p.numInputRows,
                        "batch_s": p.batchDuration / 1000.0,
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    }
                )

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Progress())

    # -- per-query Spark statistics -----------------------------------------

    def _drain_events(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def collect_jobs(self, qid: str) -> None:
        """Read the jobs and execute-stage statistics of query run ``qid``."""
        self._drain_events()
        tracker = self.sc.statusTracker()
        self.jobs[qid] = {
            layer: list(tracker.getJobIdsForGroup(f"{GROUP_PREFIX}:{qid}:{layer}"))
            for layer in JOB_LAYERS
        }
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        quantiles = self.sc._gateway.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        for job_id in self.jobs[qid]["execute"]:
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                st = store.lastStageAttempt(stage_id)
                if st.status().toString() != "COMPLETE":
                    continue
                skew = None
                summary = store.taskSummary(stage_id, st.attemptId(), quantiles)
                if st.numTasks() > 1 and summary.isDefined():
                    run = summary.get().executorRunTime()
                    med, top = run.apply(0), run.apply(1)
                    skew = top / med if med > 0 else None
                self.stage_rows.append(
                    {
                        "qid": qid,
                        "tasks": st.numCompleteTasks(),
                        "executor_run_s": st.executorRunTime() / 1000.0,
                        "shuffle_read_bytes": st.shuffleReadBytes(),
                        "shuffle_write_bytes": st.shuffleWriteBytes(),
                        "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                        "skew": skew,
                    }
                )

    def storage_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6

    # -- aggregation -------------------------------------------------------

    def layer_metrics(self, qids: list[str]) -> dict[str, float]:
        """Per-layer metrics over the query runs ``qids``: counts and
        seconds are means per query run, ratios and p50s are pooled."""
        n = max(len(qids), 1)
        keep = set(qids)
        spans = [s for s in self.spans if s["qid"] in keep]

        def named(*prefixes: str) -> list[dict]:
            return [s for s in spans if s["name"].startswith(prefixes)]

        def seconds(group: list[dict]) -> float:
            return sum(s["end"] - s["start"] for s in group)

        def covered(group: list[dict]) -> float:
            """Time covered by at least one span of ``group``, summed per
            query run: catalog calls and memo builds nest."""
            by_qid: dict[str, list[tuple[float, float]]] = {}
            for s in group:
                by_qid.setdefault(s["qid"], []).append((s["start"], s["end"]))
            return sum(_union_length(sorted(iv)) for iv in by_qid.values())

        load_table = [s for s in spans if s["name"] == "catalog.load_table"]
        construct = named("construct")
        gets = named("memo.get")
        misses = sum(1 for s in gets if not s["hit"])
        io = named("sources.io.")
        drains = named("streaming.drain")
        drain_s = seconds(drains)
        stages = [r for r in self.stage_rows if r["qid"] in keep]
        skews = [r["skew"] for r in stages if r["skew"] is not None]
        jobs = {
            layer: sum(len(self.jobs[q][layer]) for q in qids if q in self.jobs)
            for layer in JOB_LAYERS
        }
        progress = [p for p in self.progress if p["qid"] in keep]
        drained = {s["query"] for s in drains}
        last_state = {p["run"]: p["state_rows"] for p in progress}

        return {
            "catalog.load_table.calls": len(load_table) / n,
            "catalog.load_table.s": seconds(load_table) / n,
            "catalog.table_row_count.calls": len(named("catalog.table_row_count")) / n,
            "catalog.jobs": jobs["catalog"] / n,
            "construct.s": seconds(construct) / n,
            "construct.jobs": (jobs["construct"] + jobs["catalog"]) / n,
            "construct.self_s": (
                seconds(construct) - covered(named("catalog.", "memo.build"))
            ) / n,
            "memo.gets": len(gets) / n,
            "memo.misses": misses / n,
            "memo.hit_ratio": (len(gets) - misses) / len(gets) if gets else 0.0,
            "memo.build_s": covered(named("memo.build")) / n,
            "execute.s": seconds(named("execute")) / n,
            "execute.jobs": jobs["execute"] / n,
            "execute.stages": len(stages) / n,
            "execute.tasks": sum(r["tasks"] for r in stages) / n,
            "execute.executor_run_s": sum(r["executor_run_s"] for r in stages) / n,
            "execute.shuffle_read_bytes": sum(r["shuffle_read_bytes"] for r in stages) / n,
            "execute.shuffle_write_bytes": sum(r["shuffle_write_bytes"] for r in stages) / n,
            "execute.spill_bytes": sum(r["spill_bytes"] for r in stages) / n,
            "execute.task_skew": statistics.fmean(skews) if skews else 0.0,
            "sources.io.calls": len(io) / n,
            "sources.io.s": seconds(io) / n,
            "sources.io.bytes_written": sum(s.get("bytes_written", 0) for s in io) / n,
            "streaming.drain_s": drain_s / n,
            "streaming.batches": len(progress) / n,
            "streaming.batch_s_p50": (
                statistics.median(p["batch_s"] for p in progress) if progress else 0.0
            ),
            "streaming.state_rows": sum(last_state.values()) / n,
            "streaming.input_rows": sum(p["input_rows"] for p in progress) / n,
            "streaming.rows_per_s": (
                sum(p["input_rows"] for p in progress if p["query"] in drained) / drain_s
                if drain_s > 0
                else 0.0
            ),
        }

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}, default=str) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    covered, cur_start, cur_end = 0.0, None, None
    for start, end in intervals:
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        covered += cur_end - cur_start
    return covered
