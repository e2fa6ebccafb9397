"""Out-of-process correctness oracle (DuckDB).

Runs as its own process so DuckDB never shares a process with the JVM
and the pandas/pyarrow stack (creating a DuckDB instance after those are
loaded can fail to start its worker threads; see ``tests/conftest.py``).

Usage: ``python3 oracle.py JOB.json``; prints one JSON object.

The job gives ``feed_sql``: the DuckDB text of the change feed whose
replay the engine was asked to perform (every event the engine saw, by
seq window). From it the oracle derives, independently of the engine:

- the final table state, by last-writer-wins on ``(seq, commit)`` per
  ``(repo, path)`` with delete winners dropped, compared row for row
  (``EXCEPT ALL`` both ways) against ``state_parquet``, the table state
  the engine produced;
- for every recorded point lookup in ``lookups_jsonl`` (key, the seq
  cutoff of the table version it read, and the rows it returned), the
  row the lookup should have returned, or none;
- for every recorded full scan in ``scans`` (seq cutoff and row count),
  the number of live keys at that cutoff.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

COLS = ["commit", "seq", "ts_s", "lang", "content", "content_sha256"]


def _ranked(source: str) -> str:
    return (f"SELECT *, row_number() OVER (PARTITION BY repo, path "
            f"ORDER BY seq DESC, commit DESC) AS rn FROM {source}")


def check_state(con: duckdb.DuckDBPyConnection, state_parquet: str) -> dict:
    con.execute(
        "CREATE TEMP TABLE expected AS "
        "SELECT repo, path, commit, seq, ts_s, lang, content, "
        "sha256(content) AS content_sha256 "
        f"FROM ({_ranked('feed')}) WHERE rn = 1 AND op <> 'delete'")
    con.execute(
        "CREATE TEMP TABLE actual AS "
        "SELECT repo, path, commit, seq, ts_s, lang, content, content_sha256 "
        f"FROM read_parquet('{state_parquet}/*.parquet')")
    missing = con.execute("SELECT count(*) FROM "
                          "(SELECT * FROM expected EXCEPT ALL "
                          "SELECT * FROM actual)").fetchone()[0]
    extra = con.execute("SELECT count(*) FROM "
                        "(SELECT * FROM actual EXCEPT ALL "
                        "SELECT * FROM expected)").fetchone()[0]
    return {"expected_rows": con.execute(
                "SELECT count(*) FROM expected").fetchone()[0],
            "actual_rows": con.execute(
                "SELECT count(*) FROM actual").fetchone()[0],
            "missing_rows": int(missing), "extra_rows": int(extra)}


def check_lookups(con: duckdb.DuckDBPyConnection, lookups_jsonl: str) -> dict:
    with open(lookups_jsonl) as f:
        recorded = [json.loads(line) for line in f if line.strip()]
    if not recorded:
        return {"lookups": 0, "wrong_lookups": 0}
    con.execute("CREATE TEMP TABLE l (id BIGINT, repo VARCHAR, path VARCHAR, "
                "cutoff BIGINT)")
    con.executemany("INSERT INTO l VALUES (?, ?, ?, ?)",
                    [(i, r["repo"], r["path"], r["cutoff"])
                     for i, r in enumerate(recorded)])
    rows = con.execute(
        "WITH cand AS ("
        "  SELECT l.id, f.op, f.commit, f.seq, f.ts_s, f.lang, f.content,"
        "         sha256(f.content) AS content_sha256,"
        "         row_number() OVER (PARTITION BY l.id "
        "                            ORDER BY f.seq DESC, f.commit DESC) AS rn"
        "  FROM l JOIN feed f ON f.repo = l.repo AND f.path = l.path"
        "                    AND f.seq < l.cutoff)"
        "SELECT l.id, c.op, " + ", ".join(f"c.{c}" for c in COLS) +
        " FROM l LEFT JOIN cand c ON c.id = l.id AND c.rn = 1 ORDER BY l.id"
    ).fetchall()
    wrong = []
    for (i, op, *vals), rec in zip(rows, recorded):
        want = [] if op is None or op == "delete" else [dict(zip(COLS, vals))]
        got = [{c: r.get(c) for c in COLS} for r in rec["rows"]]
        if got != want:
            wrong.append({"repo": rec["repo"], "path": rec["path"],
                          "want": want, "got": got})
    return {"lookups": len(recorded), "wrong_lookups": len(wrong),
            "wrong_examples": wrong[:3]}


def check_scans(con: duckdb.DuckDBPyConnection, scans: list[dict]) -> dict:
    wrong = []
    for cutoff in sorted({s["cutoff"] for s in scans}):
        want = con.execute(
            f"SELECT count(*) FROM ({_ranked('(SELECT * FROM feed WHERE seq < ?)')}) "
            "WHERE rn = 1 AND op <> 'delete'", [cutoff]).fetchone()[0]
        wrong += [{**s, "want": want} for s in scans
                  if s["cutoff"] == cutoff and s["count"] != want]
    return {"scans": len(scans), "wrong_scans": len(wrong),
            "wrong_scan_examples": wrong[:3]}


def main(job_path: str) -> None:
    with open(job_path) as f:
        job = json.load(f)
    con = duckdb.connect()
    con.execute(f"SET threads = {int(job.get('threads', 1))}")
    con.execute(f"CREATE TEMP TABLE feed AS {job['feed_sql']}")
    out: dict = {"feed_rows": con.execute(
        "SELECT count(*) FROM feed").fetchone()[0]}
    if job.get("state_parquet"):
        out.update(check_state(con, job["state_parquet"]))
    if job.get("lookups_jsonl") and os.path.exists(job["lookups_jsonl"]):
        out.update(check_lookups(con, job["lookups_jsonl"]))
    if job.get("scans"):
        out.update(check_scans(con, job["scans"]))
    print(json.dumps(out, default=str), flush=True)


if __name__ == "__main__":
    main(sys.argv[1])
