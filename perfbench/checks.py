"""Untimed output checks, run on the written sinks after the worker ends.

Expected values come from DuckDB over the same generated inputs:

- ``etl_backfill``: per business day, the keyed events table holds
  exactly the DuckDB count of the events in the day's window, every
  event once (no duplicate lineage keys after the recycle re-run) and
  under the day's process id; the q3 sink holds, per day, the DuckDB q3
  rows; the watermark read after each load never decreases within a
  round.
- ``curation``: each stage's written output hash-matches its
  ``__spark_entry__.oracle_sql()`` twin, canonicalised as
  ``tools/check_correctness.py`` does (columns by name, rows sorted,
  exact values).
- ``cron_burst``: every job's table(s) hold exactly the DuckDB count of
  the events in the job's day window, each event once.

Each function marks failing jobs with ``rec["check"] = "<reason>"``.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb

import gen


def connect(inputs: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for name in tables:
        path = os.path.join(inputs, f"{name}.parquet")
        cols = con.execute(f"DESCRIBE SELECT * FROM '{path}'").fetchall()
        # generated timestamps are UTC-adjusted; compare as naive UTC
        select = ", ".join(
            f"{c[0]}::TIMESTAMP AS {c[0]}" if "TIME ZONE" in c[1] else c[0]
            for c in cols)
        con.execute(f"CREATE VIEW {name} AS SELECT {select} "
                    f"FROM '{path}'")
    return con


def canon_digest(rows, columns) -> str:
    """Order-insensitive digest: columns sorted by name, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return hashlib.sha256(repr(out).encode()).hexdigest()


def day_bounds(day_index: int) -> tuple[str, str]:
    """The program's own window for a business day (``Day`` bounds are
    inclusive and end at 23:59:59)."""
    from pydin_spark import Day
    period = Day(gen.day(day_index))
    return str(period.start), str(period.end)


def events_per_day(con) -> tuple[dict, dict]:
    """Per day index: events inside the day's window, and events of the
    calendar day that no daily window covers (after 23:59:59)."""
    days = ", ".join(f"({i}, TIMESTAMP '{lo}', TIMESTAMP '{hi}')"
                     for i in range(gen.MONTH_DAYS)
                     for lo, hi in [day_bounds(i)])
    rows = con.execute(
        "SELECT d.i, count(*) FILTER (WHERE e.ts BETWEEN d.lo AND d.hi), "
        f"count(*) FROM (VALUES {days}) d(i, lo, hi) JOIN events e "
        "ON e.ts >= d.lo AND e.ts < d.lo + INTERVAL 1 DAY "
        "GROUP BY d.i").fetchall()
    window = {str(i): 0 for i in range(gen.MONTH_DAYS)}
    gap = dict(window)
    for i, n_window, n_day in rows:
        window[str(i)], gap[str(i)] = n_window, n_day - n_window
    return window, gap


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def _fail(rec: dict, reason: str) -> None:
    rec.setdefault("check", reason)


def check_etl(con, passes) -> None:
    q3_cache: dict[int, str] = {}
    for out in passes:
        for rnd in out["rounds"]:
            jobs = [j for j in out["jobs"] if j["round"] == rnd["tag"]]
            root = rnd["sinks"]
            events = os.path.join(root, "stage", "events_daily")
            got = {}
            if os.path.isdir(events):
                got = {str(d): (n, nd, lo, hi) for d, n, nd, lo, hi in
                       con.execute(
                           "SELECT datediff('day', DATE '2024-01-01', "
                           "event_day), count(*), count(DISTINCT event_id), "
                           "min(pd_process_id), max(pd_process_id) "
                           f"FROM {_parquet(events)} GROUP BY 1").fetchall()}
            days = {str(j["day"]) for j in jobs}
            extra = set(got) - days
            for j in jobs:
                day = str(j["day"])
                if j["kind"] in ("load", "reload"):
                    want = j["rows_in"]
                    have = got.get(day)
                    if have is None or have[0] != want:
                        _fail(j, f"day {day}: {have and have[0]} rows, "
                                 f"DuckDB counts {want}")
                    elif have[1] != have[0]:
                        _fail(j, f"day {day}: duplicate event ids")
                    elif not have[2] == have[3] == j["pid"]:
                        _fail(j, f"day {day}: process ids {have[2:]} "
                                 f"!= {j['pid']}")
                    if extra:
                        _fail(j, f"rows for unplanned days {sorted(extra)}")
                elif j["kind"] == "q3":
                    if j["day"] not in q3_cache:
                        lo, hi = day_bounds(j["day"])
                        res = con.execute(gen_q3_sql(lo, hi))
                        q3_cache[j["day"]] = canon_digest(
                            res.fetchall(), [d[0] for d in res.description])
                    q3 = os.path.join(root, "mart", "q3_backlog")
                    res = con.execute(
                        "SELECT l_orderkey, revenue, o_orderdate, "
                        f"o_orderpriority FROM {_parquet(q3)} "
                        f"WHERE pd_process_id = {j['pid']}")
                    digest = canon_digest(res.fetchall(),
                                          [d[0] for d in res.description])
                    if digest != q3_cache[j["day"]]:
                        _fail(j, f"q3 day {day}: output differs from DuckDB")
            marks = [j.get("watermark") for j in jobs
                     if j["kind"] in ("load", "reload")]
            for prev, cur in zip(marks, marks[1:]):
                if prev is not None and cur is not None and cur < prev:
                    for j in jobs:
                        _fail(j, f"watermark decreased {prev} -> {cur}")


def gen_q3_sql(lo: str, hi: str) -> str:
    import workloads
    return workloads.Q3_SQL.replace("{calendar.start}", lo).replace(
        "{calendar.end}", hi)


def check_curation(con, passes) -> None:
    import __spark_entry__
    oracles = __spark_entry__.oracle_sql()
    import workloads
    oracle_of = {stage: name for stage, _t, name in workloads.CURATION_STAGES}
    want: dict[str, str] = {}
    for out in passes:
        for j in out["jobs"]:
            stage = j["kind"]
            if stage not in want:
                res = con.execute(oracles[oracle_of[stage]])
                want[stage] = canon_digest(res.fetchall(),
                                           [d[0] for d in res.description])
            if not os.path.isdir(j["output"]):
                _fail(j, f"{stage}: no output")
                continue
            res = con.execute(f"SELECT * FROM {_parquet(j['output'])}")
            digest = canon_digest(res.fetchall(),
                                  [d[0] for d in res.description])
            if digest != want[stage]:
                _fail(j, f"{stage}: output differs from the DuckDB oracle")


def check_cron(con, passes) -> None:
    for out in passes:
        root = out["rounds"][0]["sinks"]
        for j in out["jobs"]:
            if j.get("status") != "D":
                continue
            for name in j["tables"]:
                path = os.path.join(root, "stage", name)
                if not os.path.isdir(path):
                    _fail(j, f"{name}: no output")
                    continue
                n, nd = con.execute(
                    "SELECT count(*), count(DISTINCT event_id) "
                    f"FROM {_parquet(path)}").fetchone()
                if n != j["rows_in"] or nd != n:
                    _fail(j, f"{name}: {n} rows ({nd} distinct), DuckDB "
                             f"counts {j['rows_in']}")


CHECKS = {"etl_backfill": check_etl, "curation": check_curation,
          "cron_burst": check_cron}
