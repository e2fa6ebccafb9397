"""Out-of-process WAL segment generator (the change-data source).

Runs as its own process with single-threaded DuckDB, so the load it puts
on the host does not depend on how the engine under test behaves, and
its schedule does not slow when the engine slows (an open loop).

Usage: ``python3 walgen.py PLAN.json``. The plan names the WAL directory,
a staging directory on the same filesystem, a log path, and an ordered
list of segments, each ``{"name", "sql", "offset"}``. Every segment is
written to the staging directory before the schedule starts. The process
then prints ``ready`` and reads commands from stdin:

- ``start T0``: segments with a numeric ``offset`` are renamed into the
  WAL directory at ``T0 + offset``, in plan order;
- ``next K DUE``: the next ``K`` segments whose ``offset`` is null are
  renamed now (a closed-loop caller asking for input); ``DUE`` is the
  caller's request time;
- end of input: stop.

Times are ``time.time()`` seconds, the clock the lake stamps its commits
with (``committed_at``), so a segment's freshness is its commit stamp
minus its due time. For every segment the log records its due time, the
time the rename made it visible in the WAL directory, and its row count,
so lateness and freshness are both measured from the schedule. The log is
written when the process exits.
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb


def _stage(con: duckdb.DuckDBPyConnection, sql: str, path: str) -> int:
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")
    return int(con.execute(
        f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0])


def main(plan_path: str) -> None:
    with open(plan_path) as f:
        plan = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    staged = []
    for seg in plan["segments"]:
        src = os.path.join(plan["staging_dir"], seg["name"])
        staged.append({**seg, "src": src, "rows": _stage(con, seg["sql"], src)})
    con.close()
    print("ready", flush=True)

    log = []

    def publish(seg: dict, due: float) -> None:
        os.rename(seg["src"], os.path.join(plan["wal_dir"], seg["name"]))
        log.append({"name": seg["name"], "due": due,
                    "written": time.time(), "rows": seg["rows"]})

    scheduled = [s for s in staged if s["offset"] is not None]
    on_demand = [s for s in staged if s["offset"] is None]
    try:
        for line in sys.stdin:
            cmd = line.split()
            if not cmd:
                continue
            if cmd[0] == "start":
                t0 = float(cmd[1])
                for seg in scheduled:
                    due = t0 + seg["offset"]
                    wait = due - time.time()
                    if wait > 0:
                        time.sleep(wait)
                    publish(seg, due)
                scheduled = []
            elif cmd[0] == "next":
                k, due = int(cmd[1]), float(cmd[2])
                for seg in on_demand[:k]:
                    publish(seg, due)
                on_demand = on_demand[k:]
            else:
                raise ValueError(f"unknown command {line!r}")
            print("done", flush=True)
    finally:
        tmp = plan["log_path"] + ".tmp"
        with open(tmp, "w") as f:
            json.dump(log, f)
        os.replace(tmp, plan["log_path"])


if __name__ == "__main__":
    main(sys.argv[1])
