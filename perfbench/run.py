"""pydin_spark end-to-end benchmark.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload etl_backfill --seed 1 --seconds 12 \
        --trace 0

Workloads: ``etl_backfill``, ``curation``, ``cron_burst`` (see
``perfbench/README.md``); ``--workload all`` runs the three in turn.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it is a
detailed report with sample counts, percentiles, host sizing and every
failed check; the same report is kept under ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("etl_backfill", "curation", "cron_burst")
#: cron_burst arrival rate, jobs/s: on a 4-core host p50 latency is flat
#: from 2 to 5 jobs/s and doubles at 6, where the backlog starts to grow
CRON_RATE = 4.0
#: cron_burst: unmeasured arrivals before the measured ``--seconds``
CRON_WARM_S = 6
#: etl_backfill: business days sampled from the month, days per round
ETL_DAYS, ETL_DAYS_PER_ROUND = 12, 2
SCALE = {"etl_backfill": 0.1, "curation": 0.1, "cron_burst": 0.01}
TABLES = {"etl_backfill": ["events", "customer", "orders", "lineitem"],
          "curation": ["documents", "embeddings"],
          "cron_burst": ["events"]}
WORKER_TIMEOUT_S = 150

END_TO_END = {"setup_s": "s", "rows_per_s": "rows/s", "job_p50_s": "s",
              "job_tail_s": "s", "write_amp": "ratio", "ok_frac": "ratio"}


def fail(message: str) -> int:
    print(f"perfbench: {message}", file=sys.stderr)
    return 2


# -- host sizing -------------------------------------------------------------
def host_info() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f
                          if line.startswith("MemTotal:")).split()[1])
    java = subprocess.run(["java", "-version"], capture_output=True,
                          text=True).stderr.splitlines()
    import pyspark
    # driver heap: 2 GiB, or a quarter of RAM on a smaller host
    heap_mb = max(min(mem_kb // 4096, 2048), 512)
    return {"nproc": cpus, "ram_mb": mem_kb // 1024,
            "driver_memory": f"{heap_mb}m", "executors": cpus,
            "pyspark": pyspark.__version__,
            "java": java[0] if java else "unknown",
            "python": platform.python_version()}


def worker_env(root: str, work: str, host: dict) -> dict:
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(host["nproc"]),
        "PYDIN_DRIVER_MEMORY": host["driver_memory"],
        "PYDIN_STAGED_DIR": os.path.join(work, "staged"),
        "PYTHONPATH": os.pathsep.join([root, HERE]),
        # keep every scratch file inside the checkout
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYTHONHASHSEED": "0",
    })
    return env


# -- processes ---------------------------------------------------------------
def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def run_group(cmd, env, cwd, log_path, timeout) -> int:
    """Run ``cmd`` in its own process group; on exit or timeout kill
    whatever the group still holds (the JVM) and wait until it is gone."""
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = -1
        finally:
            for sig in (signal.SIGTERM, signal.SIGKILL):
                try:
                    os.killpg(proc.pid, sig)
                except ProcessLookupError:
                    break
                deadline = time.time() + 10
                while _group_alive(proc.pid) and time.time() < deadline:
                    time.sleep(0.05)
                if not _group_alive(proc.pid):
                    break
            proc.wait()
    return code


def tail(path: str, lines: int = 40) -> str:
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-lines:])
    except OSError:
        return ""


# -- inputs and plan ---------------------------------------------------------
def make_plan(workload: str, seed: int, seconds: float, inputs: str) -> dict:
    import gen
    import workloads
    from checks import connect, events_per_day
    rows = gen.write_tables(seed, SCALE[workload], TABLES[workload], inputs)
    plan = {"seed": seed, "sf": SCALE[workload], "tables": TABLES[workload],
            "table_rows": rows}
    con = connect(inputs, TABLES[workload])
    if "events" in rows:
        plan["day_rows"], plan["day_gap_rows"] = events_per_day(con)
    if workload == "etl_backfill":
        days = gen.business_days(seed, ETL_DAYS)
        k = ETL_DAYS_PER_ROUND
        plan["rounds"] = [days[i:i + k] for i in range(0, len(days), k)]
        plan["q3_rows"] = rows["customer"] + rows["orders"] + rows["lineitem"]
    elif workload == "curation":
        stages = [s for s, _t, _o in workloads.CURATION_STAGES]
        plan["rounds"] = gen.stage_orders(seed, stages, 16)
    else:
        plan["warm_s"] = CRON_WARM_S
        plan["arrivals"] = gen.arrivals(seed, CRON_RATE,
                                        CRON_WARM_S + seconds,
                                        workloads.CRON_SHAPES,
                                        workloads.CRON_WEIGHTS)
    con.close()
    return plan


# -- metrics ------------------------------------------------------------------
def end_to_end(report: dict, gaps: dict | None) -> tuple[dict, dict]:
    from workloads import quantile, tail_quantile
    out = report["plain"]
    jobs = out["jobs"]
    ok = [j for j in jobs if j.get("status") == "D" and "check" not in j]
    lat = [j["latency_s"] for j in jobs if "latency_s" in j]
    q = tail_quantile(len(lat))
    amps = [r["bytes_written"] / r["live_bytes"] for r in out["rounds"]
            if r["live_bytes"]]
    values = {
        "setup_s": report["setup"]["setup_s"],
        "rows_per_s": sum(j["rows_in"] for j in ok) / out["wall_s"],
        "job_p50_s": quantile(lat, 0.5),
        "job_tail_s": quantile(lat, q),
        "write_amp": statistics.median(amps) if amps else 0.0,
        "ok_frac": len(ok) / len(jobs),
    }
    detail = {
        "setup_s": {"n": 1},
        "rows_per_s": {"n": len(ok), "rows": sum(j["rows_in"] for j in ok),
                       "wall_s": out["wall_s"]},
        "job_p50_s": {"n": len(lat)},
        "job_tail_s": {"n": len(lat), "percentile": round(100 * q, 1)},
        "write_amp": {"n": len(amps), "rounds": amps},
        "ok_frac": {"n": len(jobs), "failed": len(jobs) - len(ok)},
    }
    kinds: dict = {}
    for j in jobs:
        if "latency_s" in j:
            kinds.setdefault(j.get("kind") or j.get("shape"), []).append(
                j["latency_s"])
    detail["job_p50_s"]["by_kind"] = {k: quantile(v, 0.5)
                                      for k, v in sorted(kinds.items())}
    # Day windows end at 23:59:59, so events later in that second fall
    # in no daily window; counted here per loaded day, not failed
    loaded = {(j.get("round"), j["day"]) for j in jobs
              if "day" in j and j.get("kind", "load") == "load"}
    detail["day_window_gap_rows"] = sum(
        gaps[str(day)] for _r, day in loaded) if gaps else 0
    gen_late = [j["gen_late_s"] for j in jobs if "gen_late_s" in j]
    if gen_late:
        detail["generator_late_s"] = {"n": len(gen_late),
                                      "p50": quantile(gen_late, 0.5),
                                      "max": max(gen_late)}
    return values, detail


def per_layer(report: dict, setup: dict) -> dict:
    """Per-layer metrics of the traced pass, per scheduled job unless
    the name says otherwise."""
    from tracing import union_seconds
    from workloads import quantile
    out = report["traced"]
    jobs = out["jobs"]
    n = max(len(jobs), 1)
    spans = out["spans"]
    by_id = {s["id"]: s for s in spans}

    def dur(s):
        return s["end"] - s["start"]

    def total(layer, name=None):
        return sum(dur(s) for s in spans if s["layer"] == layer
                   and (name is None or s["name"] == name))

    m = {
        "session.get_session_s": setup["get_session_s"],
        "session.register_tables_s": setup["register_tables_s"],
        "session.warmup_s": setup["warmup_s"],
        "models.extract_s": total("models", "extract") / n,
        "models.watermark_s": total("models", "watermark") / n,
        "models.load_s": total("models", "load") / n,
        "models.recycle_s": total("models", "recycle") / n,
        "models.bytes_written": sum(j.get("bytes_written", 0)
                                    for j in jobs) / n,
        "models.files_written": sum(j.get("files_written", 0)
                                    for j in jobs) / n,
    }
    recycled = [j for j in jobs if j.get("kind") == "reload"]
    loads = {(j["round"], j["day"]): j for j in jobs
             if j.get("kind") == "load"}
    ratios = [j["bytes_written"] / loads[(j["round"], j["day"])]
              ["bytes_written"] for j in recycled
              if loads.get((j["round"], j["day"]), {}).get("bytes_written")]
    # a reload writes the kept rows (rewrite) plus the day again; the
    # rewrite share is everything beyond the deleted run's own bytes
    m["models.recycle_rewrite_ratio"] = (
        statistics.median(r - 1.0 for r in ratios) if ratios else 0.0)
    runs = [s for s in spans if s["layer"] == "pipeline"
            and s["name"] == "run"]
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    self_s = 0.0
    for run in runs:
        kids = [(c["start"], c["end"]) for c in children.get(run["id"], [])]
        self_s += dur(run) - union_seconds(kids)
    m.update({
        "pipeline.compile_s": total("pipeline", "compile") / n,
        "pipeline.run_s": total("pipeline", "run") / n,
        "pipeline.self_s": self_s / n,
        "pipeline.records_read": sum(j.get("records_read", 0)
                                     for j in jobs) / n,
        "pipeline.records_written": sum(j.get("records_written", 0)
                                        for j in jobs) / n,
    })
    for layer in ("operators.text", "operators.dedup",
                  "operators.similarity"):
        top = [s for s in spans if s["layer"] == layer and not (
            s["parent"] in by_id
            and by_id[s["parent"]]["layer"].startswith("operators."))]
        op_jobs = {s["job"] for s in top}
        action = sum(dur(s) for s in spans if s["layer"] == "models"
                     and s["name"] == "load" and s["job"] in op_jobs)
        rows = sum(j.get("records_written", 0) for j in jobs
                   if j.get("run_id") in op_jobs)
        m[f"{layer}.plan_s"] = sum(dur(s) for s in top) / n
        m[f"{layer}.action_s"] = action / n
        m[f"{layer}.rows_out"] = rows / n
    waits = [1000 * j["dispatch_wait_s"] for j in jobs
             if "dispatch_wait_s" in j]
    over = [1000 * j["overhead_s"] for j in jobs if "overhead_s" in j]
    m.update({
        "scheduler.dispatch_wait_ms": quantile(waits, 0.5) if waits else 0.0,
        "scheduler.overhead_ms": quantile(over, 0.5) if over else 0.0,
        "scheduler.queue_depth_max": out.get("queue_max", 0),
        "history.calls": out["history"]["calls"] / n,
        "history.call_ms": 1000 * out["history"]["call_s"] / n,
        "history.rows_written": out["history"]["rows"] / n,
    })
    sums: dict = {}
    for s in spans:
        for key, value in (s.get("spark") or {}).items():
            sums[key] = sums.get(key, 0) + value
    mb = 1024.0 * 1024.0
    m.update({
        "spark.jobs": sums.get("jobs", 0) / n,
        "spark.stages": sums.get("stages", 0) / n,
        "spark.tasks": sums.get("tasks", 0) / n,
        "spark.failed_tasks": sums.get("failed_tasks", 0) / n,
        "spark.executor_run_s": sums.get("executor_run_ms", 0) / 1e3 / n,
        "spark.executor_cpu_s": sums.get("executor_cpu_ns", 0) / 1e9 / n,
        "spark.gc_s": sums.get("gc_ms", 0) / 1e3 / n,
        "spark.shuffle_read_mb": sums.get("shuffle_read_bytes", 0) / mb / n,
        "spark.shuffle_write_mb": sums.get("shuffle_write_bytes", 0) / mb / n,
        "spark.spill_mb": sums.get("spill_bytes", 0) / mb / n,
        "spark.input_mb": sums.get("input_bytes", 0) / mb / n,
        "spark.output_mb": sums.get("output_bytes", 0) / mb / n,
    })
    plain_wall = report["plain"]["wall_s"]
    m["trace.overhead_s"] = out["wall_s"] - plain_wall
    m["trace.overhead_frac"] = (out["wall_s"] - plain_wall) / plain_wall
    m["trace.spans"] = len(spans) / n
    return m


PER_LAYER_UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "_frac": "ratio",
                   "_ratio": "ratio"}


def unit_of(name: str) -> str:
    for suffix, unit in PER_LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


# -- one workload -------------------------------------------------------------
def run_workload(args, root: str, host: dict) -> dict | None:
    from checks import CHECKS, connect
    stamp = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(root, ".perfbench", "work", stamp)
    results = os.path.join(root, ".perfbench", "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    inputs = os.path.join(work, "inputs")
    try:
        started = time.time()
        plan = make_plan(args.workload, args.seed, args.seconds, inputs)
        plan_path = os.path.join(work, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        gen_s = time.time() - started
        env = worker_env(root, work, host)
        log = os.path.join(work, "worker.log")
        out_path = os.path.join(work, "report.json")
        cmd = [sys.executable, os.path.join(HERE, "worker.py"),
               "--workload", args.workload, "--inputs", inputs,
               "--plan", plan_path, "--work", work, "--out", out_path,
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--t0", repr(time.time())]
        code = run_group(cmd, env, work, log, WORKER_TIMEOUT_S)
        if code != 0 or not os.path.exists(out_path):
            print(tail(log), file=sys.stderr)
            fail(f"{args.workload}: worker exited with {code}")
            return None
        with open(out_path) as f:
            report = json.load(f)
        started = time.time()
        passes = [report[k] for k in ("plain", "traced") if k in report]
        con = connect(inputs, TABLES[args.workload])
        CHECKS[args.workload](con, passes)
        con.close()
        check_s = time.time() - started
    finally:
        shutil.rmtree(work, ignore_errors=True)
    values, detail = end_to_end(report, plan.get("day_gap_rows"))
    jobs = report["plain"]["jobs"] + report.get("traced", {}).get("jobs", [])
    failures = [{k: j.get(k) for k in ("kind", "shape", "day", "status",
                                       "check", "error") if k in j}
                for j in jobs if j.get("status") != "D" or "check" in j]
    if args.trace:
        metrics = per_layer(report, report["setup"])
        units = {k: unit_of(k) for k in metrics}
    else:
        metrics, units = values, END_TO_END
    summary = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "host": host,
        "input_rows": plan["table_rows"], "scale_factor": plan["sf"],
        "end_to_end": {k: dict(value=values[k], unit=END_TO_END[k],
                               **detail[k]) for k in END_TO_END},
        "setup": report["setup"], "phases_s": dict(
            report["phases_s"], generate=gen_s, check=check_s),
        "host_cpu_during_measure": report["host_cpu"],
        # not an end-to-end metric: G1 grows the heap by a different
        # amount in each run (1.1-2.1 GB on identical code)
        "peak_rss_mb": report["peak_rss_mb"],
        "failures": failures,
    }
    for key in ("generator_late_s", "day_window_gap_rows"):
        if key in detail:
            summary[key] = detail[key]
    summary["jobs"] = [{k: j.get(k) for k in ("round", "kind", "shape",
                                              "day", "latency_s", "status")
                        if k in j} for j in report["plain"]["jobs"]]
    if args.trace:
        summary["per_layer"] = metrics
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(results, name + ".json"), "w") as f:
        json.dump(summary, f, indent=1)
    if args.trace:
        with open(os.path.join(results, name + "-spans.json"), "w") as f:
            json.dump(report["traced"]["spans"], f)
    plain = report["plain"]["jobs"]
    attempted = len(plain)
    failed = sum(1 for j in plain if j.get("status") != "D" or "check" in j)
    return {"summary": summary,
            "result": {"correct": not failures, "attempted": attempted,
                       "failed": failed,
                       "metrics": {k: {"value": v, "unit": units[k]}
                                   for k, v in metrics.items()}}}


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True,
                        choices=WORKLOADS + ("all",))
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=12)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    # a terminated run still reaches run_group's cleanup of the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    for needed in ("pydin_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(root, needed)):
            return fail(f"run from the root of a pydin_spark checkout "
                        f"({needed} not found in {root})")
    sys.path.insert(1, root)
    host = host_info()
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = []
    for name in names:
        args.workload = name
        done = run_workload(args, root, host)
        if done is None:
            return 1
        print(json.dumps(done["summary"]))
        results.append(done["result"])
    if len(results) == 1:
        print(json.dumps(results[0]))
    else:
        print(json.dumps({
            "correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": {f"{n}.{k}": v for n, r in zip(names, results)
                        for k, v in r["metrics"].items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
