"""Outside-in layer trace for the benchmark's traced samples.

Nothing in the engine changes. Each layer is measured at its public
boundary:

- sources: calls into ``sources.tables.load_table`` and the
  ``DataFrameWriter`` calls a query builder makes;
- operators: the query builder call itself, the py4j commands it sends
  and the Spark jobs it runs eagerly;
- caching: ``caching.track`` calls and ``_FrameMemo.get_or_build``
  builds and hits (the build is lazy, so these are counts; the
  materialization lands in ``spark.exec_s``);
- spark: ``queryExecution().tracker()`` phases, and per-job and
  per-stage figures from the scheduler's job counter, the app status
  store and the SQL status store;
- streaming: a ``StreamingQueryListener``.

The wrappers stay installed for the whole run and only count while
``active`` is set, so an untraced sample pays one flag test per call.
"""

from __future__ import annotations

import re
import sys
import time
from collections import Counter

from pyspark.sql import DataFrameWriter
from pyspark.sql.streaming import StreamingQueryListener

# what one traced sample reports; a layer the query never touched reads 0
PER_SAMPLE = (
    "sources.load_table_calls",
    "sources.load_table_s",
    "sources.write_calls",
    "sources.write_s",
    "operators.build_s",
    "operators.compose_s",
    "operators.py4j_calls",
    "operators.eager_jobs",
    "operators.eager_s",
    "caching.memo_builds",
    "caching.memo_hits",
    "caching.track_calls",
    "spark.plan.analysis_s",
    "spark.plan.optimization_s",
    "spark.plan.planning_s",
    "spark.exec_s",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.gc_s",
    "spark.shuffle_read_mb",
    "spark.shuffle_write_mb",
    "spark.spill_mb",
    "spark.output_mb",
    "spark.python_eval_nodes",
    "streaming.batches",
    "streaming.input_rows",
    "streaming.add_batch_s",
    "streaming.commit_s",
    "streaming.state_rows",
)
_WRITER_METHODS = ("save", "parquet", "orc", "json", "csv", "text", "insertInto", "saveAsTable")
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
_PLAN_NODE = re.compile(r"^\((\d+)\) (\w+)", re.MULTILINE)
MB = 1e6


def _patch_module_refs(orig, wrapper) -> None:
    """Point every engine module attribute bound to ``orig`` at ``wrapper``
    (modules bind ``from ... import load_table`` at import time)."""
    for name, mod in list(sys.modules.items()):
        if name.startswith("datatransformertools_spark") and mod is not None:
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapper)


def _intervals_s(spans: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] millisecond intervals, in s."""
    total, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


class _ProgressListener(StreamingQueryListener):
    def __init__(self, tracer: LayerTracer):
        self._tracer = tracer

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self._tracer.progress.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class LayerTracer:
    def __init__(self, spark):
        self.spark = spark
        self.active = False
        self.in_build = False
        self.counts: Counter = Counter()
        self.progress: list = []
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._install(sc)

    # ---- wrappers -------------------------------------------------------

    def _timed(self, orig, count_key: str, time_key: str | None, only_in_build: bool = False):
        def wrapper(*args, **kwargs):
            if not self.active or (only_in_build and not self.in_build):
                return orig(*args, **kwargs)
            self.counts[count_key] += 1
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                if time_key:
                    self.counts[time_key] += time.perf_counter() - t0

        return wrapper

    def _install(self, sc) -> None:
        from datatransformertools_spark import caching
        from datatransformertools_spark.operators import dedup
        from datatransformertools_spark.sources import tables

        load_table = tables.load_table
        _patch_module_refs(
            load_table, self._timed(load_table, "sources.load_table_calls", "sources.load_table_s")
        )
        track = caching.track
        _patch_module_refs(track, self._timed(track, "caching.track_calls", None))
        for method in _WRITER_METHODS:  # only inside a builder: the benchmark's noop save is not a source write
            orig = getattr(DataFrameWriter, method)
            setattr(
                DataFrameWriter,
                method,
                self._timed(orig, "sources.write_calls", "sources.write_s", only_in_build=True),
            )

        get_or_build = dedup._FrameMemo.get_or_build

        def memo_get_or_build(memo, spark, sf_dir, build):
            if self.active:
                hit = (spark.sparkContext.applicationId, sf_dir) in memo._frames
                self.counts["caching.memo_hits" if hit else "caching.memo_builds"] += 1
            return get_or_build(memo, spark, sf_dir, build)

        dedup._FrameMemo.get_or_build = memo_get_or_build

        client = sc._gateway._gateway_client
        send_command = client.send_command

        def counted_send_command(*args, **kwargs):
            if self.active and self.in_build:
                self.counts["operators.py4j_calls"] += 1
            return send_command(*args, **kwargs)

        client.send_command = counted_send_command
        self.spark.streams.addListener(_ProgressListener(self))

    # ---- one traced sample ---------------------------------------------

    def sample(self, build, write) -> tuple[float, dict[str, float]]:
        """Run ``write(build())`` traced; returns its wall seconds (builder,
        plan phases and write) and the per-layer figures of this sample."""
        self._jsc.listenerBus().waitUntilEmpty()  # deliver earlier samples' events first
        self.counts.clear()
        self.progress.clear()
        jobs_before = self._next_job_id()
        sql_before = self._sql_store.executionsCount()
        self.active = True
        t0 = time.perf_counter()
        try:
            self.in_build = True
            try:
                df = build()
            finally:
                self.in_build = False
            build_s = time.perf_counter() - t0
            build_end_ms = time.time() * 1000.0
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            write(df)
            seconds = time.perf_counter() - t0
        finally:
            self.active = False
        self._jsc.listenerBus().waitUntilEmpty()
        layers = dict(self.counts)
        layers["operators.build_s"] = build_s
        layers.update(self._phases(qe))
        layers.update(self._jobs(jobs_before, build_end_ms))
        layers["spark.python_eval_nodes"] = self._python_nodes(sql_before)
        layers.update(self._streaming())
        layers["operators.compose_s"] = build_s - layers["operators.eager_s"]
        return seconds, {k: layers.get(k, 0) for k in PER_SAMPLE}

    def _phases(self, qe) -> dict[str, float]:
        out = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            out[f"spark.plan.{kv._1()}_s"] = kv._2().durationMs() / 1000.0
        return out

    def _next_job_id(self) -> int:
        # every job, stream micro-batches (which carry a job group) too
        return self._jsc.dagScheduler().nextJobId()

    def _jobs(self, first: int, build_end_ms: float) -> dict[str, float]:
        spans, eager, stage_ids = [], [], []
        for job_id in range(first, self._next_job_id()):
            job = self._store.job(job_id)
            start = job.submissionTime().get().getTime()
            end = job.completionTime().get().getTime()
            spans.append((start, end))
            if start <= build_end_ms:
                eager.append((start, end))
            ids = job.stageIds()
            stage_ids.extend(ids.apply(i) for i in range(ids.size()))
        out = Counter(
            {
                "spark.jobs": len(spans),
                "operators.eager_jobs": len(eager),
                "operators.eager_s": _intervals_s(eager),
                "spark.exec_s": _intervals_s(spans),
            }
        )
        for stage_id in set(stage_ids):
            st = self._store.lastStageAttempt(stage_id)
            if st.status().toString() != "COMPLETE":
                continue  # skipped by AQE or a reused exchange
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numCompleteTasks()
            out["spark.executor_run_s"] += st.executorRunTime() / 1000.0
            out["spark.gc_s"] += st.jvmGcTime() / 1000.0
            out["spark.shuffle_read_mb"] += st.shuffleReadBytes() / MB
            out["spark.shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["spark.spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
            out["spark.output_mb"] += st.outputBytes() / MB
        return dict(out)

    def _python_nodes(self, sql_before: int) -> int:
        n = 0
        new = self._sql_store.executionsList(sql_before, self._sql_store.executionsCount() - sql_before)
        for i in range(new.size()):
            plan = new.apply(i).physicalPlanDescription()
            n += len({op_id for op_id, node in _PLAN_NODE.findall(plan) if _PYTHON_NODE.search(node)})
        return n

    def _streaming(self) -> dict[str, float]:
        out = Counter()
        final_state: dict[str, int] = {}
        for p in self.progress:
            out["streaming.batches"] += 1
            out["streaming.input_rows"] += p.numInputRows
            d = p.durationMs
            out["streaming.add_batch_s"] += d.get("addBatch", 0) / 1000.0
            out["streaming.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
            final_state[str(p.id)] = sum(op.numRowsTotal for op in p.stateOperators)
        out["streaming.state_rows"] = sum(final_state.values())
        return dict(out)

    def peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")
