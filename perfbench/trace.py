"""Spans around the benchmark's calls into each engine layer, and the
Spark jobs and stages each span caused.

Spans are recorded in the benchmark's own code: around its direct calls
(query function, action, ingest.plan, sink, batch_iterator batches,
run_ingest, merge_upsert) and, while ``instrument()`` is active, around
``catalog.load``, ``acid.merge_upsert`` and ``acid_sink.run_ingest``,
which the engine's own modules reach through those module attributes.

Spark counters come from the application's AppStatusStore over py4j,
which is filled with the UI off. The benchmark runs one operation at a time,
so every job submitted while a span is open belongs to it, whichever
thread submitted it (the feed's local iterator, a stream's micro-batch
thread): jobs are attributed by submission time, not by job group.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager, nullcontext

from py4j.protocol import Py4JJavaError


def _snapshot_files(table: str) -> list[str]:
    """Data files of the table's latest snapshot (``_txn/v*.json``)."""
    from new_data_pipeline_spark.sources import acid
    v = acid.latest_version(table)
    with open(os.path.join(table, "_txn", "v%012d.json" % v)) as f:
        return json.load(f)["files"]


class Tracer:
    """In-memory spans plus the jobs and stages attributed to them."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.jobs: list[dict] = []
        self.stages: list[dict] = []
        self._seen_stages: set[int] = set()
        store = spark.sparkContext._jsc.sc().statusStore()
        jobs = store.jobsList(None)  # newest first
        self._next_job = jobs.apply(0).jobId() + 1 if jobs.size() else 0
        self._op = None
        self.pass_index = 0  # set by the run before each pass

    @contextmanager
    def op(self, name: str, family: str | None = None):
        """One benchmark operation: the span its other spans nest in."""
        self._op = name
        try:
            with self.span("op", family=family):
                yield
        finally:
            self._op = None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "op": self._op, "pass": self.pass_index,
               "t0": time.time(), **attrs}
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self.spans.append(rec)

    def collect(self, op: str) -> None:
        """Attribute the jobs submitted since the last call to the spans
        of ``op`` open at their submission time. Called between
        operations, outside their walls."""
        sc = self.spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        spans = [s for s in self.spans if s["op"] == op]
        while True:
            try:
                job = store.job(self._next_job)
            except Py4JJavaError:  # NoSuchElementException: none newer
                break
            self._next_job += 1
            submitted = job.submissionTime()
            t = submitted.get().getTime() / 1000 if submitted.isDefined() \
                else None
            within = sorted({s["name"] for s in spans
                             if t is not None and s["t0"] <= t <= s["t1"]})
            self.jobs.append({"id": job.jobId(), "op": op, "in": within,
                              "pass": self.pass_index})
            ids = job.stageIds()
            for i in range(ids.size()):
                self._add_stage(store, ids.apply(i), op, within)

    def _add_stage(self, store, sid: int, op: str, within: list) -> None:
        if sid in self._seen_stages:
            return
        self._seen_stages.add(sid)
        st = store.stageAttempt(sid, 0, False, None, False, None)._1()
        if st.status().toString() == "SKIPPED":
            return
        self.stages.append({
            "id": sid, "op": op, "in": within, "pass": self.pass_index,
            "tasks": st.numTasks(),
            "failed_tasks": st.numFailedTasks(),
            "executor_run_ms": st.executorRunTime(),
            "gc_ms": st.jvmGcTime(),
            "shuffle_write_b": st.shuffleWriteBytes(),
            "shuffle_read_b": st.shuffleReadBytes(),
            "spill_b": st.diskBytesSpilled(),
            "input_rows": st.inputRecords(),
        })

    @contextmanager
    def instrument(self):
        """Wrap the engine entry points its own modules call through
        module attributes; restore them on exit."""
        from new_data_pipeline_spark import catalog
        from new_data_pipeline_spark.sources import acid
        from new_data_pipeline_spark.streaming import acid_sink

        load, merge, ingest = (catalog.load, acid.merge_upsert,
                               acid_sink.run_ingest)

        def traced_load(*a, **kw):
            with self.span("catalog.load"):
                return load(*a, **kw)

        def traced_merge(spark, updates, table, *a, **kw):
            before = set(_snapshot_files(table))
            with self.span("acid.merge_upsert") as rec:
                out = merge(spark, updates, table, *a, **kw)
            rec["files_before"] = len(before)
            rec["files_rewritten"] = len(before - set(_snapshot_files(table)))
            return out

        def traced_ingest(*a, **kw):
            with self.span("acid_sink.run_ingest") as rec:
                query = ingest(*a, **kw)
            progress = query.recentProgress
            rec["micro_batches"] = len(progress)
            rec["add_batch_ms"] = sum(
                p.durationMs.get("addBatch", 0) for p in progress)
            return query

        catalog.load, acid.merge_upsert, acid_sink.run_ingest = (
            traced_load, traced_merge, traced_ingest)
        try:
            yield self
        finally:
            catalog.load, acid.merge_upsert, acid_sink.run_ingest = (
                load, merge, ingest)

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "jobs": self.jobs,
                       "stages": self.stages}, f)


class NullTracer:
    """Stand-in for untraced runs: spans, ops and collection cost nothing."""

    pass_index = 0

    def op(self, name, family=None):
        return nullcontext()

    def span(self, name, **attrs):
        return nullcontext({})

    def collect(self, op):
        pass

    def instrument(self):
        return nullcontext(self)
