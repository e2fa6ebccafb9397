"""The benchmark's workloads, set-up, measurement and correctness gate.

Both workloads drive the public API of ``arlas_proc_spark`` from one
process, with ``local[nproc]`` and shuffle partitions = nproc, and take
their change events from the out-of-process WAL generator
(``walgen.py``): the engine receives only the generated inputs.

- ``stream_tail``: an open loop at a fixed rate into a continuous
  copy-on-write ``StreamingIngest`` (freshness); then bursts of queued
  segments (drain rate), each followed by lookups and scans of the table
  it left; one maintenance ``compact()`` ends the run.
- ``serve_mixed``: closed loop, one client, over a merge-on-read table:
  each round appends one segment with ``CdcEngine.apply_batch``, then
  runs point lookups (one in ten on absent keys) and one full scan, then
  applies a burst of queued segments in one ``apply_batch`` (drain rate);
  a ``compact()`` ends every compaction cycle of a few rounds.

Each workload spreads the samples of every metric over its whole
measured phase, so a slow spell of the host weighs on all of them alike.

Set-up, repeated ``setup_reps`` times per run (median reported): a fresh
table bootstrapped by ``CdcEngine.replay`` of the seed's base feed.

A batch is visible from the commit whose ledger first holds its id; the
time is that commit's ``committed_at`` stamp, read from the table's
version files (``CommitLog``).
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
NPROC = len(os.sched_getaffinity(0))


@dataclass(frozen=True)
class Sizes:
    n_repos: int            # key space: n_repos x files_per_repo
    files_per_repo: int
    n_buckets: int
    base_events: int        # bootstrap replay (seq range)
    setup_reps: int
    freshness_limit_s: float
    # stream_tail: warm reads, the open loop (warm_s unsampled seconds,
    # then --seconds), then bursts, each followed by reads
    seg_events: int         # seq range per open-loop segment
    seg_per_s: float
    warm_s: float
    bursts: int
    burst_segments: int     # 1 keeps a burst in one micro-batch: the file
    burst_seg_events: int   # source can list a part of a multi-file burst
    max_files_per_trigger: int
    read_lookups: int       # per read group (one after each burst)
    read_scans: int
    # serve_mixed: warm rounds, then one compaction cycle per cycle_s of
    # --seconds; each round is followed by one burst
    warm_rounds: int
    cycle_s: float
    compact_every: int      # rounds per cycle
    round_events: int       # seq range per round (and per burst segment)
    lookups_per_round: int
    serve_burst_segments: int


FULL = Sizes(n_repos=10, files_per_repo=1000, n_buckets=NPROC * 2,
             base_events=8_000, setup_reps=3, freshness_limit_s=15.0,
             seg_events=500, seg_per_s=5.0, warm_s=8.0, bursts=2,
             burst_segments=1, burst_seg_events=12_000,
             max_files_per_trigger=100, read_lookups=6, read_scans=2,
             warm_rounds=2,
             cycle_s=6.0, compact_every=2, round_events=3_000,
             lookups_per_round=6, serve_burst_segments=3)

TINY = Sizes(n_repos=4, files_per_repo=50, n_buckets=4,
             base_events=2_000, setup_reps=2, freshness_limit_s=60.0,
             seg_events=100, seg_per_s=4.0, warm_s=1.0, bursts=2,
             burst_segments=2, burst_seg_events=200,
             max_files_per_trigger=100, read_lookups=3, read_scans=1,
             warm_rounds=1,
             cycle_s=2.0, compact_every=2, round_events=300,
             lookups_per_round=4, serve_burst_segments=2)

GEN_SKEW = dict(hot_pct=30, dup_mod=17)  # 30% hot repo, 1/17 dup delivery


def seq_origin(seed: int) -> int:
    """The seed picks the feed's seq window (every event is a pure
    function of its seq, so a new window is a new, independent feed)."""
    return 10_000_000 * (1 + seed % 150)


def serve_cycles(seconds: float, z: Sizes) -> int:
    """Whole compaction cycles a serve_mixed run makes: a fixed count for
    a given ``--seconds``, so every run does the same work."""
    return max(1, round(seconds / z.cycle_s))


def pctl_tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile that still has at
    least ten samples beyond it."""
    s = sorted(xs)
    n = len(s)
    k = max(0, n - 11)
    return s[k], 100.0 * (k + 1) / n if n else 0.0, n


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass
    return total


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    pids = [os.getpid(), int(spark._jvm.java.lang.ProcessHandle.current().pid())]
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


# ----------------------------------------------------------------- generator
class Generator:
    """Handle on the walgen.py process."""

    def __init__(self, work: str, segments: list[dict]):
        self.wal_dir = os.path.join(work, "wal")
        staging = os.path.join(work, "wal_staging")
        os.makedirs(self.wal_dir)
        os.makedirs(staging)
        self.log_path = os.path.join(work, "walgen_log.json")
        plan = {"wal_dir": self.wal_dir, "staging_dir": staging,
                "log_path": self.log_path, "segments": segments}
        plan_path = os.path.join(work, "walgen_plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "walgen.py"), plan_path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.log: list[dict] = []

    def _expect(self, word: str) -> None:
        line = self.proc.stdout.readline().strip()
        if line != word:
            raise RuntimeError(f"WAL generator said {line!r}, expected {word!r}")

    def wait_ready(self) -> None:
        self._expect("ready")

    def start(self, t0: float) -> None:
        """Begin the open-loop schedule; returns once it is published."""
        self.proc.stdin.write(f"start {t0!r}\n")
        self.proc.stdin.flush()
        self._expect("done")

    def publish(self, k: int, due: float) -> None:
        self.proc.stdin.write(f"next {k} {due!r}\n")
        self.proc.stdin.flush()
        self._expect("done")

    def close(self) -> list[dict]:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.close()
                self.proc.wait(timeout=30)
            except (subprocess.TimeoutExpired, BrokenPipeError):
                self.proc.kill()
                self.proc.wait()
        if os.path.exists(self.log_path):
            with open(self.log_path) as f:
                self.log = json.load(f)
        return self.log


# ---------------------------------------------------------------- visibility
_VERSION_FILE = re.compile(r"v\d{10}\.json")


class CommitLog:
    """When each ledgered batch became visible: the ``committed_at`` stamp
    of the first table version whose ledger holds the batch id. Read from
    the table's version files, each written once by its commit, so the
    polling reader adds no load to the process being measured beyond a
    JSON read per new version. A version file is written just before the
    table's ``CURRENT`` pointer moves to it, so a reader must also wait for
    the pointer (``readable``) before it reads the batch back."""

    def __init__(self, table):
        self.meta_dir = table.meta_dir
        self.read: set[str] = set()
        self.at: dict[str, float] = {}      # ledger key -> committed_at
        self.version: dict[str, int] = {}   # ledger key -> version

    def poll(self) -> dict[str, float]:
        new = sorted(n for n in os.listdir(self.meta_dir)
                     if _VERSION_FILE.fullmatch(n) and n not in self.read)
        for name in new:
            with open(os.path.join(self.meta_dir, name)) as f:
                snap = json.load(f)
            self.read.add(name)
            for key in snap["ledger"]["recent"]:
                self.at.setdefault(key, snap["committed_at"])
                self.version.setdefault(key, int(snap["version"]))
        return self.at

    def readable(self, key: str) -> bool:
        """Whether ``LakeTable.snapshot()`` now includes batch ``key``."""
        if key not in self.version:
            return False
        with open(os.path.join(self.meta_dir, "CURRENT")) as f:
            current = f.read().strip()
        return int(current[1:11]) >= self.version[key]


def segment_batches(checkpoint: str) -> dict[str, int]:
    """WAL file name -> streaming batch id, from the file source's log in
    the query checkpoint."""
    d = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    for fn in os.listdir(d):
        if fn.startswith("."):
            continue
        with open(os.path.join(d, fn)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    try:
                        e = json.loads(line)
                    except json.JSONDecodeError:  # a log file still being written
                        continue
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def wait_until(cond, timeout: float, what: str) -> None:
    end = time.monotonic() + timeout
    while not cond():
        if time.monotonic() > end:
            raise TimeoutError(f"timed out after {timeout}s waiting for {what}")
        time.sleep(0.05)


# ------------------------------------------------------------------ the run
class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 sizes: Sizes, work: str, spark, tracer):
        self.workload, self.seconds = workload, seconds
        self.z, self.work = sizes, work
        self.spark, self.tracer = spark, tracer
        self.gen_kw = dict(n_repos=sizes.n_repos,
                           files_per_repo=sizes.files_per_repo, **GEN_SKEW)
        self.s0 = seq_origin(seed)
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.wrong = 0
        self.errors: list[str] = []
        self.n_lookups = 0
        self.lookups: list[dict] = []   # recorded for the oracle
        self.scans: list[dict] = []
        self.lookup_ms: list[float] = []
        self.scan_s: list[float] = []
        self.freshness: list[float] = []
        self.append_s: list[float] = []
        self.drain_eps: list[float] = []
        self.layer: dict[str, tuple[float, str]] = {}
        self.info: dict = {}
        self.owner = None               # StreamingIngest or CdcEngine
        self.table = None

    # -------------------------------------------------------------- the feed
    def segments(self) -> list[dict]:
        """The generator plan: contiguous seq ranges after the base feed."""
        from arlas_proc_spark.sources.changefeed import changefeed_sql
        z, segs = self.z, []
        lo = self.s0 + z.base_events

        def add(n: int, offset: float | None, tag: str) -> None:
            nonlocal lo
            segs.append({"name": f"seg_{len(segs):05d}_{tag}.parquet",
                         "sql": changefeed_sql(lo + n, start=lo,
                                               dialect="duckdb", **self.gen_kw),
                         "offset": offset, "lo": lo, "hi": lo + n, "tag": tag})
            lo += n

        if self.workload == "stream_tail":
            for i in range(int((z.warm_s + self.seconds) * z.seg_per_s)):
                add(z.seg_events, i / z.seg_per_s,
                    "open" if i >= z.warm_s * z.seg_per_s else "open-warm")
            for _ in range(z.bursts * z.burst_segments):
                add(z.burst_seg_events, None, "burst")
        else:
            for _ in range(z.warm_rounds):
                add(z.round_events, None, "warm")
            for _ in range(serve_cycles(self.seconds, z) * z.compact_every):
                add(z.round_events, None, "round")
                for _ in range(z.serve_burst_segments):
                    add(z.round_events, None, "burst")
        return segs

    def feed_df(self, n: int, start: int):
        from arlas_proc_spark.sources import changefeed
        return changefeed.changefeed_df(self.spark, start + n, start=start,
                                        parallelism=NPROC, **self.gen_kw)

    # ---------------------------------------------------------------- set-up
    def set_up_once(self, rep: int):
        """A fresh table bootstrapped by replay of the base feed; returns
        (StreamingIngest or CdcEngine, replay seconds)."""
        from arlas_proc_spark.cdc.engine import CdcEngine
        from arlas_proc_spark.streaming.ingest import StreamingIngest
        path = os.path.join(self.work, f"setup{rep}", "table")
        with self.tracer.span("bench.setup", trace=f"setup-{rep}"):
            if self.workload == "stream_tail":
                owner = StreamingIngest(self.spark, path, n_buckets=self.z.n_buckets,
                                        write_mode="cow")
                engine = owner.engine
            else:
                owner = engine = CdcEngine(self.spark, path,
                                           n_buckets=self.z.n_buckets,
                                           write_mode="mor")
            t = time.perf_counter()
            engine.replay(self.feed_df(self.z.base_events, self.s0))
            replay_s = time.perf_counter() - t
        return owner, replay_s

    def set_up(self) -> tuple[float, float]:
        """Repeated set-up; keeps the last table and returns (median set-up
        seconds, median replay seconds). The first repetition also runs
        the process's first Spark jobs."""
        setup_s, replay_s = [], []
        for rep in range(self.z.setup_reps):
            if rep:
                shutil.rmtree(os.path.join(self.work, f"setup{rep - 1}"))
            t = time.perf_counter()
            self.owner, rs = self.set_up_once(rep)
            setup_s.append(time.perf_counter() - t)
            replay_s.append(rs)
            self.table = (self.owner.engine if self.workload == "stream_tail"
                          else self.owner).table
        self.info["setup_s_all"] = setup_s
        self.info["replay_s_all"] = replay_s
        return statistics.median(setup_s), statistics.median(replay_s)

    # --------------------------------------------------------------- reading
    def lookup_key(self, i: int) -> tuple[str, str]:
        """The i-th lookup key. Every tenth key is absent from the key
        space and three in ten are in the hot repo, so each run reads the
        same mix; the seed picks the keys within each kind."""
        kind = i % 10
        file = f"src/f_{self.rng.randrange(self.z.files_per_repo):05d}.py"
        if kind == 9:
            return f"repo_{9000 + self.rng.randrange(999):04d}", file
        if kind in (0, 3, 6):
            return "repo_0000", file
        return f"repo_{1 + self.rng.randrange(self.z.n_repos - 1):04d}", file

    def do_lookup(self, cutoff: int) -> None:
        i = self.n_lookups
        self.n_lookups += 1
        repo, path = self.lookup_key(i)
        self.attempted += 1
        t = time.perf_counter()
        try:
            with self.tracer.span("bench.lookup", trace=f"lookup-{i}"):
                df = self.table.lookup(repo=repo, path=path)
                with self.tracer.span("lake.lookup_exec"):
                    rows = df.collect()
        except Exception as e:  # counted, the run continues
            self.failed += 1
            self.errors.append(f"lookup {repo}/{path}: {e!r}")
            return
        self.lookup_ms.append(1000.0 * (time.perf_counter() - t))
        self.lookups.append({"repo": repo, "path": path, "cutoff": cutoff,
                             "rows": [r.asDict() for r in rows]})

    def do_scan(self, cutoff: int) -> None:
        self.attempted += 1
        t = time.perf_counter()
        with self.tracer.span("bench.scan", trace=f"scan-{len(self.scans)}"):
            n = self.table.read().count()
        self.scan_s.append(time.perf_counter() - t)
        self.scans.append({"cutoff": cutoff, "count": n})

    def do_compact(self) -> None:
        b0 = dir_bytes(self.table.path)
        self.attempted += 1
        with self.tracer.span("bench.compact", trace="compact"):
            self.table.compact(max_files_per_bucket=1)
        self.info.setdefault("compact_bytes", []).append(
            dir_bytes(self.table.path) - b0)

    def files_per_bucket(self) -> float:
        return statistics.mean(self.table.file_counts().values())

    def count_freshness(self, fresh: float, sample: bool) -> None:
        """One written segment: visible later than the freshness limit
        after it was due counts as failed (a growing backlog fails)."""
        self.attempted += 1
        if fresh > self.z.freshness_limit_s:
            self.failed += 1
            self.errors.append(f"segment visible {fresh:.1f}s after it was due")
        if sample:
            self.freshness.append(fresh)

    # -------------------------------------------------------------- workloads
    def run_stream_tail(self, gen: Generator, segs: list[dict]) -> int:
        """Returns the seq end of the events applied."""
        z, table = self.z, self.table
        # warm-up reads of the bootstrapped table, checked, not sampled
        with self.tracer.span("bench.warm", trace="setup-warm"):
            self.read_group(self.s0 + z.base_events)
        for samples in (self.lookup_ms, self.scan_s):
            samples.clear()
        ckpt = os.path.join(self.work, "ckpt")
        bytes0 = dir_bytes(table.path)
        commits = CommitLog(table)
        query = self.owner.start(gen.wal_dir, ckpt, available_now=False,
                                 max_files_per_trigger=z.max_files_per_trigger)
        scope = self.owner.engine.ledger_scope

        def visible() -> dict[str, float]:
            """WAL segment name -> time its micro-batch became visible."""
            try:
                batches = segment_batches(ckpt)
            except FileNotFoundError:
                return {}
            at = commits.poll()
            return {name: at[f"{scope}:{bid}"] for name, bid in batches.items()
                    if f"{scope}:{bid}" in at}

        def wait_for(part: list[dict], what: str, timeout: float) -> None:
            """Until the table's current snapshot holds every segment of
            ``part``."""
            def done() -> bool:
                if not all(s["name"] in visible() for s in part):
                    return False
                batches = segment_batches(ckpt)
                return all(commits.readable(f"{scope}:{batches[s['name']]}")
                           for s in part)
            wait_until(done, timeout, what)

        opened = [s for s in segs if s["offset"] is not None]
        burst_segs = [s for s in segs if s["tag"] == "burst"]
        bursts = [burst_segs[b * z.burst_segments:(b + 1) * z.burst_segments]
                  for b in range(z.bursts)]
        burst_due = []
        try:
            # the first warm_s seconds of the open loop carry the live
            # query's first micro-batches and are not sampled
            t0 = time.time() + 0.2
            gen.start(t0)
            wait_for(opened, "open-loop segments", z.freshness_limit_s + 60)
            # each burst is published once everything before it is
            # visible, and followed by reads of the table it left
            for burst in bursts:
                burst_due.append(time.time())
                gen.publish(len(burst), burst_due[-1])
                wait_for(burst, "burst segments", 120)
                self.read_group(burst[-1]["hi"])
        finally:
            progress = list(query.recentProgress)
            query.stop()
        self.stream_metrics(progress, t0 + z.warm_s, burst_due[0])
        log = {e["name"]: e for e in gen.close()}
        vis = visible()
        for s in segs:
            self.count_freshness(vis[s["name"]] - log[s["name"]]["due"],
                                 sample=s["tag"] == "open")
        for burst, due in zip(bursts, burst_due):
            rows = sum(log[s["name"]]["rows"] for s in burst)
            self.drain_eps.append(rows / (max(vis[s["name"]] for s in burst) - due))
        applied = sum(e["rows"] for e in log.values())
        self.layer["sources.gen_lateness_max_s"] = (
            max(log[s["name"]]["written"] - log[s["name"]]["due"] for s in opened), "s")
        self.layer["lake.bytes_written_per_event"] = (
            (dir_bytes(table.path) - bytes0) / applied, "bytes/event")
        # scheduled maintenance of the final table
        self.do_compact()
        self.layer["lake.files_per_bucket_mean"] = (self.files_per_bucket(), "files")
        return segs[-1]["hi"]

    def read_group(self, cutoff: int) -> None:
        """stream_tail's reads of the table as of seq ``cutoff``."""
        for _ in range(self.z.read_lookups):
            self.do_lookup(cutoff)
        for _ in range(self.z.read_scans):
            self.do_scan(cutoff)

    def run_serve_mixed(self, gen: Generator, segs: list[dict]) -> int:
        """Returns the seq end of the events applied."""
        from arlas_proc_spark.sources import readers
        z, table, engine = self.z, self.table, self.owner
        bytes0 = dir_bytes(table.path)
        commits = CommitLog(table)
        published = 0

        def append(k: int, bid: str, sample: bool) -> tuple[float, list[str]]:
            """Publish the next k segments and apply them as one batch;
            returns (publish time, segment names)."""
            nonlocal published
            names = [s["name"] for s in segs[published:published + k]]
            due = time.time()
            gen.publish(k, due)
            published += k
            df = readers.read_parquet(
                self.spark, *[os.path.join(gen.wal_dir, n) for n in names])
            t = time.perf_counter()
            engine.apply_batch(df, bid)
            if sample:
                self.append_s.append(time.perf_counter() - t)
            self.count_freshness(commits.poll()[bid] - due, sample=sample)
            return due, names

        files_per_bucket = []

        def one_round(bid: str, sample: bool) -> None:
            append(1, bid, sample)
            files_per_bucket.append(self.files_per_bucket())
            cutoff = segs[published - 1]["hi"]
            for _ in range(z.lookups_per_round):
                self.do_lookup(cutoff)
            self.do_scan(cutoff)

        # warm rounds: the first appends and reads of new generations;
        # checked by the gate, not sampled
        with self.tracer.span("bench.warm", trace="setup-warm"):
            for w in range(z.warm_rounds):
                one_round(f"warm-{w}", sample=False)
        for samples in (self.lookup_ms, self.scan_s, files_per_bucket):
            samples.clear()
        # each round is followed by a burst of queued segments in one
        # apply_batch (timed as a drain, not as a round append)
        n_cycles = serve_cycles(self.seconds, z)
        bursts = []
        for c in range(n_cycles):
            for i in range(z.compact_every):
                r = c * z.compact_every + i
                one_round(f"round-{r}", sample=True)
                bursts.append(append(z.serve_burst_segments, f"burst-{r}",
                                     sample=False))
            self.do_compact()
        self.info["rounds"] = n_cycles * z.compact_every
        log = {e["name"]: e for e in gen.close()}
        at = commits.poll()
        for b, (due, names) in enumerate(bursts):
            rows = sum(log[n]["rows"] for n in names)
            self.drain_eps.append(rows / (at[f"burst-{b}"] - due))
        used = segs[:published]
        applied = sum(log[s["name"]]["rows"] for s in used)
        self.layer["sources.gen_lateness_max_s"] = (
            max(log[s["name"]]["written"] - log[s["name"]]["due"] for s in used), "s")
        self.layer["lake.bytes_written_per_event"] = (
            (dir_bytes(table.path) - bytes0) / applied, "bytes/event")
        self.layer["lake.files_per_bucket_mean"] = (statistics.mean(files_per_bucket),
                                                    "files")
        return used[-1]["hi"]

    def stream_metrics(self, progress: list, t_sample: float,
                       t_burst: float) -> None:
        """Per-trigger numbers from the StreamingQuery's progress reports;
        ``addBatch`` is the foreachBatch write of one micro-batch, sampled
        for the open-loop micro-batches that start after its warm-up
        (``t_sample``) and before the first burst (``t_burst``)."""
        trig, over, rows, dropped, commit = [], [], [], 0, []
        for p in progress:
            n = int(p.numInputRows)
            if n == 0:
                continue
            d = p.durationMs
            trig.append(d.get("triggerExecution", 0) / 1000.0)
            over.append((d.get("triggerExecution", 0) - d.get("addBatch", 0)) / 1000.0)
            started = datetime.fromisoformat(
                p.timestamp.replace("Z", "+00:00")).timestamp()
            if t_sample <= started < t_burst:
                self.append_s.append(d.get("addBatch", 0) / 1000.0)
            rows.append(n)
            for op in p.stateOperators:
                dropped += int(op.customMetrics.get("numDroppedDuplicateRows", 0))
                commit.append(float(op.commitTimeMs))
        self.info["trigger_s"] = trig
        self.layer["streaming.trigger_p50_s"] = (statistics.median(trig), "s")
        self.layer["streaming.overhead_p50_s"] = (statistics.median(over), "s")
        self.layer["streaming.batch_events_mean"] = (statistics.mean(rows), "events")
        self.layer["streaming.dedup_dropped_frac"] = (dropped / sum(rows), "ratio")
        self.layer["streaming.state_commit_ms"] = (
            statistics.median(commit) if commit else 0.0, "ms")

    # ---------------------------------------------------------- correctness
    def check_state(self, seq_end: int) -> dict:
        """Final table state, recorded lookups and scan counts against the
        oracle."""
        return check_against_oracle(self.spark, self.table, self.s0, seq_end,
                                    self.gen_kw, self.lookups, self.work, self.scans)

    # ------------------------------------------------------------------ probes
    def probes(self) -> None:
        """Traced run only: the cdc and functions stages of a replay, each
        run alone over the base feed into a no-op sink."""
        from arlas_proc_spark.cdc import engine as cdc_engine
        feed = self.feed_df(self.z.base_events, self.s0)
        events = feed.count()
        self.layer["cdc.replay_events_per_s"] = (
            events / statistics.median(self.info["replay_s_all"]), "events/s")
        t = time.perf_counter()
        cdc_engine.lww_compact(feed).write.format("noop").mode("overwrite").save()
        self.layer["cdc.lww_compact_s"] = (time.perf_counter() - t, "s")
        winners = cdc_engine.lww_compact(feed).cache()
        n_win = winners.count()
        self.layer["cdc.winners_frac"] = (n_win / events, "ratio")
        t = time.perf_counter()
        cdc_engine.prepare_events(winners).write.format("noop").mode("overwrite").save()
        self.layer["functions.content_hash_s"] = (time.perf_counter() - t, "s")
        self.layer["functions.hashed_rows"] = (float(n_win), "rows")
        winners.unpersist()


def check_against_oracle(spark, table, s0: int, seq_end: int, gen_kw: dict,
                         lookups: list[dict], work: str,
                         scans: list[dict] = ()) -> dict:
    """Write the table's state and the recorded lookups, and have the
    DuckDB oracle process compare them, and the recorded scan counts,
    with the replay of the feed window [s0, seq_end)."""
    from arlas_proc_spark.sources.changefeed import changefeed_sql
    os.makedirs(work, exist_ok=True)
    state_dir = os.path.join(work, "oracle_state")
    table.read().write.mode("overwrite").parquet(state_dir)
    lookups_path = os.path.join(work, "oracle_lookups.jsonl")
    with open(lookups_path, "w") as f:
        for rec in lookups:
            f.write(json.dumps(rec) + "\n")
    job = {"feed_sql": changefeed_sql(seq_end, start=s0, dialect="duckdb", **gen_kw),
           "state_parquet": state_dir, "lookups_jsonl": lookups_path,
           "scans": list(scans), "threads": NPROC}
    job_path = os.path.join(work, "oracle_job.json")
    with open(job_path, "w") as f:
        json.dump(job, f)
    out = subprocess.run([sys.executable, os.path.join(HERE, "oracle.py"), job_path],
                         capture_output=True, text=True, timeout=170)
    if out.returncode != 0:
        raise RuntimeError(f"oracle failed: {out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])

