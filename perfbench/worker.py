"""One fresh benchmark process: set up, warm up, run a workload, report.

Started by ``run.py``; not meant to be run by hand. The worker times its
own set-up (process start to the first job's result), warms up, runs the
workload's measurement pass (and, with ``--trace 1``, a traced pass over
the same jobs) and writes a JSON report of raw samples that ``run.py``
turns into metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

#: closed-loop warm-up rounds after set-up: right after one warm-up
#: round, a curation round still ran 12-28% slower than the round after
#: it (4-core host); a second etl_backfill warm-up round added 5 s to a
#: run and did not narrow its run-to-run spread
WARM_ROUNDS = {"etl_backfill": 1, "curation": 2}


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_share(before: list[int], after: list[int]) -> dict:
    """Busy and steal shares of all host CPU time between two readings:
    the window-quality signal that tells host contention from a code
    change."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta) or 1
    idle = delta[3] + delta[4]
    return {"busy": (total - idle - delta[7]) / total,
            "steal": delta[7] / total}


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def peak_rss_mb(spark) -> float:
    """Peak RSS of this Python process plus its JVM child (VmHWM)."""
    kb = _vm_hwm_kb(os.getpid())
    jvm = _jvm_pid(spark)
    if jvm is not None:
        kb += _vm_hwm_kb(jvm)
    return kb / 1024.0


class Bench:
    """One workload in one process: its session, run history, tracer
    and the job record of the closed-loop job in flight."""

    def __init__(self, args, plan):
        self.args = args
        self.plan = plan
        self.workload = args.workload
        self.work = args.work
        self.tracer = None
        self.tracer_on = False
        self.current = None

    # -- set-up -----------------------------------------------------------
    def setup(self) -> dict:
        timings = {}
        start = time.perf_counter()
        import pydin_spark  # noqa: F401 - import is part of set-up
        timings["import_s"] = time.perf_counter() - start
        from pydin_spark import get_session, register_tables
        cpus = os.environ["SPARK_GRAFT_CPUS"]
        start = time.perf_counter()
        self.spark = get_session(f"perfbench-{self.workload}",
                                 master=f"local[{cpus}]")
        timings["get_session_s"] = time.perf_counter() - start
        start = time.perf_counter()
        register_tables(self.spark, self.args.inputs,
                        tables=tuple(self.plan["tables"]))
        timings["register_tables_s"] = time.perf_counter() - start
        import workloads
        self.w = workloads
        # the program's default run history (in-memory sqlite): a file
        # database adds the host disk's fsync stalls to every job
        self.history = workloads.TimedHistory()
        start = time.perf_counter()
        self.warm_jobs(first_only=True)
        timings["warmup_s"] = time.perf_counter() - start
        timings["setup_s"] = time.time() - self.args.t0
        return timings

    # -- job plumbing ---------------------------------------------------------
    def sinks(self, tag: str) -> str:
        return os.path.join(self.work, "sinks", tag)

    def run_closed(self, sched, job_id, spec, build, ledger) -> dict:
        """Run one job with run_job_now(wait=True); returns its record.
        ``build(run)`` makes and runs the pipeline inside the callable."""
        rec = dict(spec)
        self.current = (rec, build)
        submitted = time.time()
        run_id = sched.run_job_now(job_id, wait=True)
        rec["run_id"] = run_id
        rec["latency_s"] = self.history.ended.get(run_id, time.time()) \
            - submitted
        rec["dispatch_wait_s"] = rec.get("call_start", submitted) \
            - self.history.added.get(run_id, submitted)
        rec["overhead_s"] = rec["latency_s"] - rec.get("call_s", 0.0)
        # off the clock: status, sink growth, watermark
        run = self.history.run(run_id) or {}
        rec["status"] = run.get("status")
        if rec["status"] != "D":
            rec["error"] = (run.get("error_list") or "")[:500]
        rec["bytes_written"], rec["files_written"] = ledger.scan()
        return rec

    def run_job(self, rec, run, build) -> None:
        """Body of every job callable: ``build(run)`` makes and runs the
        pipeline, which is then recorded in the run history."""
        rec["call_start"] = time.time()
        if self.tracer_on:
            self.tracer.bind_job(run["id"])
        try:
            pipe = build(run)
            rec["records_read"] = pipe.records_read
            rec["records_written"] = pipe.records_written
            self.history.record_pipeline(run["id"], pipe)
        finally:
            rec["call_s"] = time.time() - rec["call_start"]
            if self.tracer_on:
                self.tracer.bind_job(None)

    def closed_callable(self, run):
        rec, build = self.current
        self.run_job(rec, run, build)

    # -- etl_backfill -------------------------------------------------------
    def etl_jobs(self, tag: str, days):
        """The (load, q3, reload) triple for each day, in order."""
        w, spark = self.w, self.spark
        registry = w.lake(self.sinks(tag))
        table = os.path.join(self.sinks(tag), "stage", "events_daily")
        jobs = []
        for n, day in enumerate(days):
            pid = 1000 + 10 * n

            def load(run, day=day, pid=pid, recycle=None):
                pipe = w.events_pipeline(spark, registry, day, pid,
                                         [w.events_table("events_daily")])
                return pipe.run(recycle=recycle)

            def q3(run, day=day, pid=pid + 1):
                return w.q3_pipeline(spark, registry, day, pid).run()

            def reload(run, load=load, pid=pid):
                return load(run, recycle=pid)

            rows = self.plan["day_rows"][str(day)]
            jobs += [({"kind": "load", "day": day, "pid": pid,
                       "rows_in": rows, "table": table}, load),
                     ({"kind": "q3", "day": day, "pid": pid + 1,
                       "rows_in": self.plan["q3_rows"]}, q3),
                     ({"kind": "reload", "day": day, "pid": pid,
                       "rows_in": rows, "table": table}, reload)]
        return jobs

    def watermark(self, table: str):
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        data = ds.dataset(table, format="parquet").to_table(
            columns=["event_id"])
        return pc.max(data["event_id"]).as_py()

    # -- curation -------------------------------------------------------------
    def curation_jobs(self, tag: str, order):
        w, spark = self.w, self.spark
        registry = w.lake(self.sinks(tag))
        jobs = []
        for stage in order:
            table = dict((s, t) for s, t, _ in w.CURATION_STAGES)[stage]

            def build(run, stage=stage):
                pipe = w.curation_pipeline(spark, registry, stage)
                try:
                    return pipe.run()
                finally:
                    w.release_operators(pipe)

            jobs.append(({"kind": stage,
                          "rows_in": self.plan["table_rows"][table],
                          "output": os.path.join(self.sinks(tag), "curated",
                                                 stage)}, build))
        return jobs

    # -- closed loops ---------------------------------------------------------
    def round_jobs(self, index: int, tag: str):
        if self.workload == "etl_backfill":
            days = self.plan["rounds"][index % len(self.plan["rounds"])]
            return self.etl_jobs(tag, days)
        order = self.plan["rounds"][index % len(self.plan["rounds"])]
        return self.curation_jobs(tag, order)

    def closed_pass(self, seconds: float, trace: bool) -> dict:
        """Closed loop, one client: run whole rounds of the plan, at
        least two, until the untraced jobs have spent ``seconds``, so
        every run measures the same mix of job kinds, each at least
        twice. With ``trace`` each
        round runs twice, untraced and traced, alternating which goes
        first, so the overhead compares the same jobs equally warm."""
        w = self.w
        sched = w.make_scheduler(self.history)
        job_id = sched.register(f"{self.workload}-measure",
                                func=self.closed_callable)
        passes = {"plain": {"rounds": [], "jobs": [], "wall_s": 0.0}}
        if trace:
            passes["traced"] = {"rounds": [], "jobs": [], "wall_s": 0.0}
        index = 0
        while passes["plain"]["wall_s"] < seconds or index < 2:
            modes = list(passes) if index % 2 == 0 else list(passes)[::-1]
            for mode in modes:
                self.tracing(mode == "traced")
                self.run_round(sched, job_id, index, mode, passes[mode])
            index += 1
        self.tracing(False)
        return passes

    def run_round(self, sched, job_id, index, mode, out) -> None:
        """One round of jobs into fresh sinks, appended to ``out``."""
        w = self.w
        tag = f"{mode}-r{index}"
        ledger = w.WriteLedger(self.sinks(tag))
        for spec, build in self.round_jobs(index, tag):
            rec = self.run_closed(sched, job_id, spec, build, ledger)
            if "table" in rec and rec["status"] == "D":
                rec["watermark"] = self.watermark(rec["table"])
            rec["round"] = tag
            out["wall_s"] += rec["latency_s"]
            out["jobs"].append(rec)
        out["rounds"].append({"tag": tag, "bytes_written": ledger.bytes,
                              "live_bytes": ledger.live_bytes(),
                              "sinks": self.sinks(tag)})

    def tracing(self, on: bool) -> None:
        if on and not self.tracer_on:
            if self.tracer is None:
                from tracing import Tracer
                self.tracer = Tracer(self.spark)
            self.tracer.install()
            self.history.counting = True
        elif not on and self.tracer_on:
            self.tracer.uninstall()
            self.history.counting = False
        self.tracer_on = on

    # -- cron_burst ---------------------------------------------------------
    def cron_job(self, spec, registry):
        w, spark = self.w, self.spark
        names = ([f"fanout_{spec['i']}_a", f"fanout_{spec['i']}_b"]
                 if spec["shape"] == "fanout" else
                 [f"{spec['shape']}_{spec['i']}"])
        rec = dict(spec, tables=names)

        def build(run):
            return w.events_pipeline(
                spark, registry, spec["day"], spec["i"] + 1,
                [w.events_table(n) for n in names],
                mapper=spec["shape"] != "el").run()

        def job(run):
            rec["run_id"], rec["due"] = run["id"], float(run["run_tag"])
            self.run_job(rec, run, build)

        return rec, job

    def open_pass(self, name: str, drain_s: float = 90.0) -> dict:
        """Open loop: one cron row per planned arrival, fired by a
        started scheduler; waits until every run ended (or ``drain_s``
        passed after the last due tick). Arrivals in the plan's first
        ``warm_s`` seconds warm the burst up and are not measured: after
        an idle gap the first seconds of a burst run slower."""
        arrivals = self.plan["arrivals"]
        w = self.w
        tag = f"{name}-burst"
        self.history.queue_max = 0
        registry = w.lake(self.sinks(tag))
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        sched = w.make_scheduler(self.history, executors=cpus)
        sched.start()
        while sched.moment is None:
            time.sleep(0.001)
        base = sched.moment
        recs = []
        for i, arrival in enumerate(arrivals):
            rec, job = self.cron_job(dict(arrival, i=i), registry)
            tick = base + 2 + int(arrival["offset"])
            moment = time.localtime(tick)
            rec["job_id"] = sched.register(
                f"{name}-{i}", func=job, hour=str(moment.tm_hour),
                min=str(moment.tm_min), sec=str(moment.tm_sec))
            rec["rows_in"] = self.plan["day_rows"][str(arrival["day"])]
            recs.append(rec)
        last_due = base + 2 + max(int(a["offset"]) for a in arrivals)
        deadline = last_due + drain_s
        pending = set(range(len(recs)))
        while pending and time.time() < deadline:
            time.sleep(0.05)
            pending = {i for i in pending
                       if recs[i].get("run_id") not in self.history.ended}
        sched.stop()
        for rec in recs:
            run_id = rec.get("run_id")
            ended = self.history.ended.get(run_id)
            if run_id is None or ended is None:
                rec["status"] = "missing"
                continue
            run = self.history.run(run_id) or {}
            rec["status"] = run.get("status")
            if rec["status"] != "D":
                rec["error"] = (run.get("error_list") or "")[:500]
            rec["latency_s"] = ended - rec["due"]
            rec["gen_late_s"] = self.history.added[run_id] - rec["due"]
            rec["dispatch_wait_s"] = rec["call_start"] \
                - self.history.added[run_id]
            rec["overhead_s"] = ended - self.history.added[run_id] \
                - rec["call_s"]
        warm = [r for r in recs if r["offset"] < self.plan["warm_s"]]
        for rec in warm:
            self._require_done(rec.get("run_id"))
        recs = [r for r in recs if r["offset"] >= self.plan["warm_s"]]
        first_due = base + 2 + int(self.plan["warm_s"])
        ends = [self.history.ended[r["run_id"]] for r in recs
                if r.get("run_id") in self.history.ended]
        ledger = w.WriteLedger(self.sinks(tag))
        ledger.scan()
        return {"jobs": recs,
                "wall_s": (max(ends) - first_due) if ends else 0.0,
                "queue_max": self.history.queue_max,
                "rounds": [{"tag": tag, "bytes_written": ledger.bytes,
                            "live_bytes": ledger.live_bytes(),
                            "sinks": self.sinks(tag)}]}

    # -- warm-up and passes ---------------------------------------------------
    def warm_jobs(self, first_only: bool) -> None:
        """Run the closed loops' warm-up rounds into scratch sinks (the
        first job alone is the set-up's first result)."""
        w = self.w
        sched = w.make_scheduler(self.history)
        job_id = sched.register(f"warmup-{self.workload}",
                                func=self.closed_callable)
        if self.workload == "cron_burst":
            # the burst warms itself up (open_pass); set-up runs one job
            if first_only:
                _rec, job = self.cron_job({"shape": "el", "day": 0, "i": 0},
                                          w.lake(self.sinks("warmup")))
                sched.jobs[job_id] = job
                self._require_done(sched.run_job_now(job_id, wait=True))
            return
        for index in range(1 if first_only else WARM_ROUNDS[self.workload]):
            tag = "warmup" if first_only else f"warmup-r{index}"
            ledger = w.WriteLedger(self.sinks(tag))
            if self.workload == "etl_backfill":
                jobs = self.round_jobs(0, tag)
            else:
                # a fixed stage order, so set-up time (the first stage)
                # does not depend on the seeded order
                jobs = self.curation_jobs(tag, [s for s, _t, _o in
                                                w.CURATION_STAGES])
            for spec, build in jobs[:1] if first_only else jobs:
                self._require_done(self.run_closed(
                    sched, job_id, spec, build, ledger)["run_id"])

    def _require_done(self, run_id) -> None:
        run = self.history.run(run_id) or {}
        if run.get("status") != "D":
            raise RuntimeError(f"warm-up job failed: "
                               f"{(run.get('error_list') or '')[:2000]}")

    def measure(self, seconds: float, trace: bool) -> dict:
        """The measurement passes: ``plain`` (untraced) and, with
        ``trace``, ``traced`` over the same jobs."""
        if self.workload == "cron_burst":
            passes = {"plain": self.open_pass("plain")}
            if trace:
                self.tracing(True)
                try:
                    passes["traced"] = self.open_pass("traced")
                finally:
                    self.tracing(False)
        else:
            passes = self.closed_pass(seconds, trace)
        if trace:
            self.tracer.collect_stage_metrics()
            passes["traced"]["spans"] = [s.as_dict()
                                         for s in self.tracer.spans]
            passes["traced"]["history"] = {"calls": self.history.calls,
                                           "call_s": self.history.call_s,
                                           "rows": self.history.rows}
        return passes


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--workload", required=True)
    parser.add_argument("--inputs", required=True)
    parser.add_argument("--plan", required=True)
    parser.add_argument("--work", required=True)
    parser.add_argument("--out", required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, default=0)
    parser.add_argument("--t0", type=float, required=True)
    args = parser.parse_args()
    with open(args.plan) as f:
        plan = json.load(f)
    bench = Bench(args, plan)
    report = {"setup": bench.setup()}
    phases = report["phases_s"] = {}
    try:
        start = time.time()
        bench.warm_jobs(first_only=False)
        phases["warmup"] = time.time() - start
        ticks = cpu_ticks()
        report.update(bench.measure(args.seconds, bool(args.trace)))
        report["host_cpu"] = host_share(ticks, cpu_ticks())
        phases["measure"] = time.time() - start - phases["warmup"]
        report["peak_rss_mb"] = peak_rss_mb(bench.spark)
    finally:
        start = time.time()
        bench.spark.stop()
        phases["stop"] = time.time() - start
    with open(args.out, "w") as f:
        json.dump(report, f)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sys.exit(main())
