"""The three benchmark workloads, written the way a pydin user writes jobs.

Every job is a callable registered with a ``Scheduler``; it builds a
``Pipeline`` from public models, runs it into real sinks and records the
pipeline in the run history. The closed-loop workloads drive jobs with
``run_job_now(wait=True)``; ``cron_burst`` schedules one cron row per
arrival and lets ``Scheduler.start()`` fire them.
"""

from __future__ import annotations

import math
import os
import threading
import time

from pydin_spark import (Day, Filesystem, Mapper, Parquet, Pipeline, Select,
                         SourceRegistry, Table, Transform)
from pydin_spark.models import Model, Transformable
from pydin_spark.operators import dedup, similarity
from pydin_spark.scheduler import History, Scheduler

import gen

EVENTS_SQL = ("SELECT event_id, ts, user_id, event_type, value, props "
              "FROM events")
#: TPC-H Q3 shape: the BUILDING segment's open-order revenue backlog as
#: of the business day (placed before it, shipping after it)
Q3_SQL = """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(25,4))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '{calendar.start}'
      AND l_shipdate > TIMESTAMP '{calendar.end}'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
"""
EVENTS_MAPPER = dict(rename={"value": "amount"},
                     with_columns={"event_day": "to_date(ts)",
                                   "kind": "upper(event_type)"},
                     drop=["props"])

#: curation stages: (name, source table, oracle query name)
CURATION_STAGES = [
    ("quality", "documents", "text_quality"),
    ("language", "documents", "text_language_id"),
    ("ngram_pairs", "documents", "dedup_ngram_jaccard"),
    ("minhash_pairs", "documents", "dedup_minhash_capped"),
    ("survivors", "documents", "dedup_survivors"),
    ("cosine_dups", "embeddings", "sim_cosine_dup"),
    ("cosine_topk", "embeddings", "sim_topk_bruteforce"),
]

CRON_SHAPES = ("el", "etl", "fanout")
CRON_WEIGHTS = (2, 2, 1)


class TimedHistory(History):
    """Run history that timestamps enqueue and terminal transitions (the
    job latency clock) and, when ``counting``, the calls made into it."""

    TERMINAL = ("D", "E", "C", "T", "U")

    def __init__(self):
        super().__init__()
        self.added: dict[int, float] = {}
        self.ended: dict[int, float] = {}
        self.counting = False
        self.calls = 0
        self.call_s = 0.0
        self.rows = 0
        self._stats = threading.Lock()
        self.queue_probe = None
        self.queue_max = 0

    def _count(self, started: float, rows: int) -> None:
        if self.counting:
            with self._stats:
                self.calls += 1
                self.call_s += time.perf_counter() - started
                self.rows += rows

    def add_run(self, job_id, status, run_tag, *args, **kwargs):
        started = time.perf_counter()
        run_id = super().add_run(job_id, status, run_tag, *args, **kwargs)
        self.added[run_id] = time.time()
        if self.queue_probe is not None:
            self.queue_max = max(self.queue_max, self.queue_probe())
        self._count(started, 1)
        return run_id

    def set_run(self, run_id, **fields):
        started = time.perf_counter()
        super().set_run(run_id, **fields)
        if fields.get("status") in self.TERMINAL:
            self.ended[run_id] = time.time()
        self._count(started, 1)

    def record_pipeline(self, run_id, pipeline):
        started = time.perf_counter()
        super().record_pipeline(run_id, pipeline)
        self._count(started, 1 + len(pipeline.steps))

    def add_job(self, job_name, **fields):
        started = time.perf_counter()
        job_id = super().add_job(job_name, **fields)
        self._count(started, 1)
        return job_id

    def run(self, run_id):
        started = time.perf_counter()
        out = super().run(run_id)
        self._count(started, 0)
        return out

    def runs(self, job_id=None, status=None):
        started = time.perf_counter()
        out = super().runs(job_id, status)
        self._count(started, 0)
        return out

    def job(self, job_id):
        started = time.perf_counter()
        out = super().job(job_id)
        self._count(started, 0)
        return out

    def jobs(self, active_only=False):
        started = time.perf_counter()
        out = super().jobs(active_only)
        self._count(started, 0)
        return out

    def running_count(self, job_id):
        started = time.perf_counter()
        out = super().running_count(job_id)
        self._count(started, 0)
        return out


class Operator(Model, Transformable):
    """Pipeline node running one curation operator with the parameters
    of its ``__spark_entry__.queries()`` entry. Frames the operator
    persists are collected and released after the job's write."""

    def __init__(self, fn, **options):
        super().__init__(model_name=fn)
        self.fn = fn
        self.options = options
        self.owned: list = []

    def transform(self, df):
        module, name = self.fn.split(".")
        func = getattr({"dedup": dedup, "similarity": similarity}[module],
                       name)
        if name == "cosine_topk":
            # persists nothing; the queries are the first ten vectors
            queries = df.where("vec_id < 10").selectExpr(
                "vec_id AS query_id", "embedding")
            return func(df, queries, **self.options)
        return func(df, owned_frames=self.owned, **self.options)

    def release(self) -> None:
        for frame in self.owned:
            frame.unpersist()
        self.owned.clear()


def curation_transform(stage: str):
    if stage == "quality":
        return Transform("quality_score")
    if stage == "language":
        return Transform("language_id")
    if stage == "ngram_pairs":
        return Operator("dedup.ngram_jaccard_pairs", threshold=0.2,
                        max_shingle_freq=100)
    if stage == "minhash_pairs":
        return Operator("dedup.minhash_lsh_pairs", threshold=0.9,
                        num_hashes=32, bands=8, max_bucket_size=1000)
    if stage == "survivors":
        return Operator("dedup.drop_near_dups", threshold=0.5,
                        max_shingle_freq=100)
    if stage == "cosine_dups":
        return Operator("similarity.cosine_dup_pairs", threshold=0.4)
    if stage == "cosine_topk":
        return Operator("similarity.cosine_topk", k=5)
    raise ValueError(stage)


def lake(root: str) -> SourceRegistry:
    registry = SourceRegistry(autoload=False)
    registry.register(Filesystem("lake", root))
    return registry


def events_table(name: str) -> Table:
    return Table(source_name="lake", schema_name="stage", table_name=name,
                 key_field="process_id")


def events_pipeline(spark, registry, day_index: int, pid: int, sinks,
                    mapper: bool = True) -> Pipeline:
    """A Day-windowed, watermarked events load into keyed table(s);
    several sinks make a fan-out step (one extractor, N loaders)."""
    source = Select(text=EVENTS_SQL, date_field="ts", value_field="event_id")
    chain = [source]
    if mapper:
        chain.append(Mapper(**EVENTS_MAPPER))
    chain.append(sinks if len(sinks) > 1 else sinks[0])
    return Pipeline(*chain, spark=spark, registry=registry, process_id=pid,
                    date=Day(gen.day(day_index)))


def q3_pipeline(spark, registry, day_index: int, pid: int) -> Pipeline:
    sink = Parquet(source_name="lake", path="mart", file_name="q3_backlog",
                   partition_by=["o_orderpriority"], key_field="process_id")
    return Pipeline(Select(text=Q3_SQL), sink, spark=spark,
                    registry=registry, process_id=pid,
                    date=Day(gen.day(day_index)))


def curation_pipeline(spark, registry, stage: str) -> Pipeline:
    table = dict((s, t) for s, t, _ in CURATION_STAGES)[stage]
    sink = Parquet(source_name="lake", path="curated", file_name=stage)
    return Pipeline(Select(text=f"SELECT * FROM {table}"),
                    curation_transform(stage), sink, spark=spark,
                    registry=registry)


def release_operators(pipeline: Pipeline) -> None:
    for node in pipeline.nodes:
        if isinstance(node.model, Operator):
            node.model.release()


def tail_quantile(n: int) -> float:
    """Highest quantile with at least ten samples beyond it (never below
    the median)."""
    return max(0.5, 1.0 - 10.0 / n) if n else 0.5


def quantile(values, q: float) -> float:
    ordered = sorted(values)
    if not ordered:
        return float("nan")
    pos = q * (len(ordered) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)


def scan_files(root: str) -> dict:
    """{path: (size, mtime_ns, inode)} of every file under ``root``."""
    out = {}
    for base, _dirs, files in os.walk(root):
        for name in files:
            path = os.path.join(base, name)
            try:
                st = os.stat(path)
            except FileNotFoundError:
                continue
            out[path] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


class WriteLedger:
    """Bytes and files that appeared under a sink root between scans."""

    def __init__(self, root: str):
        self.root = root
        self.seen: dict = {}
        self.bytes = 0
        self.files = 0

    def scan(self) -> tuple[int, int]:
        now = scan_files(self.root)
        new = [v for p, v in now.items() if self.seen.get(p) != v]
        self.seen = now
        added = sum(v[0] for v in new)
        self.bytes += added
        self.files += len(new)
        return added, len(new)

    def live_bytes(self) -> int:
        return sum(v[0] for v in scan_files(self.root).values())


def make_scheduler(history: History, executors: int = 1) -> Scheduler:
    sched = Scheduler(history=history, executors=executors)
    history.queue_probe = sched.exec_queue.qsize
    return sched
