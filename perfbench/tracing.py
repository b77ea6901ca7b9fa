"""Span tracing around the program's public entry points.

The tracer patches public functions and methods of each layer (models,
pipeline, operators) with wrappers defined here, so the program itself
is unchanged. A span records name, layer, start, end, parent span and
the scheduler run it belongs to; spans live in memory and are written
out when the run ends. Each leaf span that can launch Spark jobs runs
under its own Spark job group, and that group's stage metrics are read
from the live status store (it works with ``spark.ui.enabled=false``).
"""

from __future__ import annotations

import itertools
import threading
import time

from pydin_spark import models, pipeline
from pydin_spark.operators import dedup, similarity, text

import workloads

#: (owner, attribute, layer, span name, launches Spark jobs)
ENTRY_POINTS = [
    (models.Select, "extract", "models", "extract", True),
    (models.Table, "get_last_value", "models", "watermark", True),
    (models.Loadable, "get_last_value", "models", "watermark", True),
    (models.Table, "load", "models", "load", True),
    (models.FileModel, "load", "models", "load", True),
    (models.Table, "recycle", "models", "recycle", True),
    (models.Parquet, "recycle", "models", "recycle", True),
    (models.Transform, "transform", "models", "transform", False),
    (workloads.Operator, "transform", "models", "transform", False),
    (pipeline.Pipeline, "run", "pipeline", "run", False),
    (text, "quality_score", "operators.text", "quality_score", True),
    (text, "language_id", "operators.text", "language_id", True),
    (dedup, "ngram_jaccard_pairs", "operators.dedup", "ngram_jaccard_pairs",
     True),
    (dedup, "minhash_lsh_pairs", "operators.dedup", "minhash_lsh_pairs",
     True),
    (dedup, "drop_near_dups", "operators.dedup", "drop_near_dups", True),
    (similarity, "cosine_dup_pairs", "operators.similarity",
     "cosine_dup_pairs", True),
    (similarity, "cosine_topk", "operators.similarity", "cosine_topk", True),
]

STAGE_FIELDS = {
    "tasks": "numTasks", "failed_tasks": "numFailedTasks",
    "executor_run_ms": "executorRunTime", "executor_cpu_ns":
    "executorCpuTime", "gc_ms": "jvmGcTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled", "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
}


class Span:
    __slots__ = ("id", "name", "layer", "start", "end", "parent", "job",
                 "group", "spark", "extra")

    def __init__(self, span_id, name, layer, parent, job, group):
        self.id = span_id
        self.name = name
        self.layer = layer
        self.parent = parent
        self.job = job
        self.group = group
        self.start = time.perf_counter()
        self.end = None
        self.spark = None
        self.extra = {}

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "layer": self.layer,
                "start": self.start, "end": self.end, "parent": self.parent,
                "job": self.job, "group": self.group, "spark": self.spark,
                **self.extra}


class Tracer:
    """Installs wrappers, keeps spans, reads stage metrics per group."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list = []
        #: id(Pipeline) -> (scheduler run id, run span id)
        self.pipelines: dict[int, list] = {}

    # -- span bookkeeping -------------------------------------------------
    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _context(self, receiver):
        """(parent span id, run id) for a call: the calling thread's open
        span, else the run span of the receiver's pipeline (pipeline
        steps run on pool threads)."""
        stack = self._stack()
        pipe = receiver if isinstance(receiver, pipeline.Pipeline) else \
            getattr(receiver, "pipeline", None)
        bound = self.pipelines.get(id(pipe)) if pipe is not None else None
        job = bound[0] if bound else getattr(self._local, "job", None)
        if stack:
            return stack[-1].id, job if job is not None else stack[-1].job
        return (bound[1] if bound else None), job

    def open(self, name, layer, receiver=None, spark_group=False) -> Span:
        parent, job = self._context(receiver)
        span_id = next(self._ids)
        group = f"perfbench-{span_id}" if spark_group else None
        span = Span(span_id, name, layer, parent, job, group)
        if group is not None:
            span.extra["prev_group"] = self.sc.getLocalProperty(
                "spark.jobGroup.id")
            self.sc.setJobGroup(group, f"{layer}.{name}")
        self._stack().append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        if span.group is not None:
            prev = span.extra.pop("prev_group", None)
            if prev:
                self.sc.setJobGroup(prev, "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
        with self._lock:
            self.spans.append(span)

    def bind_job(self, run_id) -> None:
        """Spans opened on this thread belong to scheduler run ``run_id``."""
        self._local.job = run_id

    def record(self, name, layer, start, end, receiver=None, **extra):
        """A span for work timed by the caller (e.g. a sink scan)."""
        span = self.open(name, layer, receiver)
        self._stack().pop()
        span.start, span.end = start, end
        span.extra.update(extra)
        with self._lock:
            self.spans.append(span)

    # -- patching -----------------------------------------------------------
    def _wrapper(self, original, layer, name, spark_group, is_method):
        tracer = self

        def traced(*args, **kwargs):
            receiver = args[0] if is_method and args else None
            if layer == "pipeline" and name == "run":
                bound = tracer.pipelines.setdefault(id(receiver),
                                                    [None, None])
                if bound[0] is None:
                    bound[0] = getattr(tracer._local, "job", None)
            span = tracer.open(name, layer, receiver, spark_group)
            if layer == "pipeline" and name == "run":
                tracer.pipelines[id(receiver)][1] = span.id
            try:
                out = original(*args, **kwargs)
            finally:
                tracer.close(span)
            if name == "watermark":
                span.extra["value"] = None if out is None else str(out)
            return out

        traced.__wrapped__ = original
        return traced

    def install(self) -> None:
        for owner, attr, layer, name, spark_group in ENTRY_POINTS:
            original = owner.__dict__.get(attr)
            if original is None:
                continue
            is_method = isinstance(owner, type)
            setattr(owner, attr, self._wrapper(original, layer, name,
                                               spark_group, is_method))
            self._patched.append((owner, attr, original))
        original_init = pipeline.Pipeline.__init__
        tracer = self

        def init(pipe, *args, **kwargs):
            # construct + refresh, i.e. the pipeline compile
            start = time.perf_counter()
            original_init(pipe, *args, **kwargs)
            tracer.pipelines[id(pipe)] = [getattr(tracer._local, "job",
                                                  None), None]
            tracer.record("compile", "pipeline", start,
                          time.perf_counter())

        pipeline.Pipeline.__init__ = init
        self._patched.append((pipeline.Pipeline, "__init__", original_init))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- Spark stage metrics --------------------------------------------------
    def collect_stage_metrics(self, timeout: float = 5.0) -> None:
        """Fill ``span.spark`` for every span with a job group: jobs,
        stages and summed stage metrics, read once its jobs finished."""
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        gateway = self.sc._gateway
        no_quantiles = gateway.new_array(gateway.jvm.double, 0)
        for span in self.spans:
            if span.group is None or span.spark is not None:
                continue
            totals = {"jobs": 0, "stages": 0, **{k: 0 for k in STAGE_FIELDS}}
            deadline = time.time() + timeout
            for job_id in tracker.getJobIdsForGroup(span.group):
                job = store.job(job_id)
                while (str(job.status()) in ("RUNNING", "UNKNOWN")
                       and time.time() < deadline):
                    time.sleep(0.005)
                    job = store.job(job_id)
                totals["jobs"] += 1
                stage_ids = job.stageIds()
                for i in range(stage_ids.size()):
                    try:
                        attempts = store.stageData(
                            stage_ids.apply(i), False, None, False,
                            no_quantiles)
                    except Exception:  # noqa: BLE001 - skipped stage
                        continue
                    for k in range(attempts.size()):
                        stage = attempts.apply(k)
                        if str(stage.status()) == "SKIPPED":
                            continue
                        totals["stages"] += 1
                        for key, field in STAGE_FIELDS.items():
                            totals[key] += int(getattr(stage, field)())
            span.spark = totals


def union_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
