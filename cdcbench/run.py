"""CDC engine benchmark: one workload per invocation.

Run from the repository root::

    python3 cdcbench/run.py --workload stream_tail --seed 1 --seconds 12 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run (spans are written to
``cdcbench/.out/spans-<workload>-seed<n>.jsonl``). The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. Workload rationale and the layer map are in
``cdcbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("stream_tail", "serve_mixed")


def declared_metrics(root: str) -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: a seconds-long smoke run of every code path")
    return p.parse_args(argv)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(run, tracer, main_table: str) -> dict:
    """Per-layer numbers from the spans (plus the ones the run measured)."""
    spans = tracer.finished()
    measured = [s for s in spans if not str(s["trace"]).startswith("setup-")]

    def p50(name, scale=1.0, pred=lambda s: True):
        return _median([scale * (s["end"] - s["start"]) for s in measured
                        if s["name"] == name and pred(s)])

    batches = [s for s in measured if s["name"] == "cdc.apply_batch"
               and s["parent"] is None]

    def write_p50(name):
        return p50(name, pred=lambda s: s["attrs"].get("table") == main_table
                   and str(s["trace"]).startswith("batch-"))

    out = dict(run.layer)
    out.update({
        "cdc.replay_s": (_median(tracer.durations("cdc.replay")), "s"),
        "cdc.apply_batch_p50_s": (_median([s["end"] - s["start"] for s in batches]), "s"),
        "cdc.jobs_per_batch": (_median([s["jobs"] for s in batches]), "count"),
        "lake.merge_batch_p50_s": (write_p50("lake.merge_batch"), "s"),
        "lake.append_batch_p50_s": (write_p50("lake.append_batch"), "s"),
        "lake.compact_s": (p50("lake.compact"), "s"),
        "lake.compact_bytes_rewritten": (_median(run.info.get("compact_bytes", [])),
                                         "bytes"),
        "lake.lookup_plan_p50_ms": (p50("lake.lookup", 1000.0), "ms"),
        "lake.lookup_exec_p50_ms": (p50("lake.lookup_exec", 1000.0), "ms"),
        "lake.jobs_per_lookup": (_median(tracer.jobs("bench.lookup")), "count"),
        "lake.snapshot_load_ms": (p50("lake.snapshot", 1000.0), "ms"),
    })
    return out


def run_workload(args, root: str) -> tuple[dict, dict]:
    """Returns (result line, run record)."""
    import workloads as W
    from spans import Tracer, span_cost_s

    end_to_end, per_layer = declared_metrics(root)
    sizes = W.FULL if args.size == "full" else W.TINY
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(HERE, ".out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    local_dir = os.path.join(work, "spark-local")
    os.makedirs(local_dir)
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    stamp = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
             "seconds": args.seconds, "size": args.size, "nproc": W.NPROC,
             "loadavg_start": os.getloadavg()}

    from arlas_proc_spark.config import build_session

    t_start = time.monotonic()
    run = W.Run(args.workload, args.seed, args.seconds, sizes, work, None,
                Tracer(enabled=False))
    segs = run.segments()
    gen = W.Generator(work, [{k: s[k] for k in ("name", "sql", "offset")}
                             for s in segs])
    spark = None
    try:
        spark = build_session(
            app_name="cdcbench", master=f"local[{W.NPROC}]",
            shuffle_partitions=W.NPROC,
            extra_conf={"spark.ui.showConsoleProgress": "false",
                        "spark.local.dir": local_dir})
        run.spark = spark
        phases = run.info["phase_s"] = {"session": time.monotonic() - t_start}
        if args.trace:
            run.tracer = Tracer(spark)
        tracer = run.tracer
        gen.wait_ready()
        phases["generator_ready"] = time.monotonic() - t_start
        if args.trace:
            tracer.install()
        setup_s, replay_s = run.set_up()
        phases["set_up"] = time.monotonic() - t_start
        if args.workload == "stream_tail":
            seq_end = run.run_stream_tail(gen, segs)
        else:
            seq_end = run.run_serve_mixed(gen, segs)
        phases["measured"] = time.monotonic() - t_start
        if args.trace:
            run.probes()
            tracer.uninstall()
        oracle = run.check_state(seq_end)
        run.attempted += 1
        bad_state = oracle["missing_rows"] + oracle["extra_rows"]
        if bad_state:
            run.failed += 1
            run.wrong += 1
            run.errors.append(f"final state differs from the oracle: {oracle}")
        for kind in ("lookups", "scans"):
            if oracle.get(f"wrong_{kind}"):
                run.failed += oracle[f"wrong_{kind}"]
                run.wrong += oracle[f"wrong_{kind}"]
                run.errors.append(f"{kind} differ from the oracle: {oracle}")
        rss = W.peak_rss_mb(spark)
        phases["checked"] = time.monotonic() - t_start
    finally:
        gen.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    fresh_tail, fresh_pct, fresh_n = W.pctl_tail(run.freshness)
    look_tail, look_pct, look_n = W.pctl_tail(run.lookup_ms)
    e2e = {
        "setup_s": setup_s,
        "freshness_p50_s": statistics.median(run.freshness),
        "drain_events_per_s": statistics.median(run.drain_eps),
        "append_p50_s": statistics.median(run.append_s),
        "lookup_p50_ms": statistics.median(run.lookup_ms),
        "scan_s": statistics.median(run.scan_s),
    }
    stamp.update({
        "loadavg_end": os.getloadavg(), "oracle": oracle, "errors": run.errors[:10],
        "samples": {"freshness": fresh_n, "freshness_tail_pct": fresh_pct,
                    "lookups": look_n, "lookup_tail_pct": look_pct,
                    "scans": len(run.scan_s), "appends": len(run.append_s),
                    "drains": len(run.drain_eps)},
        "tails": {"freshness_tail_s": fresh_tail, "lookup_tail_ms": look_tail},
        "replay_s": replay_s, "peak_rss_mb": rss,
        "info": run.info, "end_to_end": e2e,
        "series": {"freshness_s": run.freshness, "append_s": run.append_s,
                   "drain_events_per_s": run.drain_eps,
                   "lookup_ms": run.lookup_ms, "scan_s": run.scan_s}})
    if args.trace:
        layer = layer_metrics(run, tracer, run.table.path)
        n_spans = len(tracer.finished())
        layer["trace.span_overhead_s"] = (n_spans * span_cost_s(), "s")
        layer["peak_rss_mb"] = (rss, "MB")
        layer["ops_failed_frac"] = (run.failed / run.attempted, "ratio")
        # a layer the workload does not use (streaming on serve_mixed) reads 0
        metrics = {k: {"value": float(layer.get(k, (0.0,))[0]), "unit": u}
                   for k, u in per_layer.items()}
        untraced = _load(os.path.join(out_dir, f"result-{args.workload}-"
                                      f"seed{args.seed}-trace0.json"))
        if untraced:
            stamp["tracing_overhead"] = {
                k: e2e[k] - untraced["end_to_end"][k] for k in end_to_end}
        stamp["layer_self_s"] = tracer.layer_self_s()
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"),
                    extra=stamp)
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in end_to_end.items()}
    result = {"correct": run.wrong == 0, "attempted": run.attempted,
              "failed": run.failed, "metrics": metrics}
    with open(os.path.join(out_dir, f"result-{args.workload}-seed{args.seed}-"
                           f"trace{args.trace}.json"), "w") as f:
        json.dump({**stamp, "result": result}, f, indent=1, default=str)
    return result, stamp


def _load(path: str):
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # the JVM did not exit on its own: make it
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "arlas_proc_spark")):
        print("cdcbench: run from the repository root; the arlas_proc_spark "
              "package is not in the current directory", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    t = time.monotonic()
    result, stamp = run_workload(args, root)
    print(f"cdcbench {args.workload} seed={args.seed} nproc={stamp['nproc']} "
          f"load={stamp['loadavg_start'][0]:.2f}->{stamp['loadavg_end'][0]:.2f} "
          f"wall={time.monotonic() - t:.1f}s samples={stamp['samples']} "
          f"errors={stamp['errors'][:3]}")
    if args.trace:
        print(f"layer self time (s): {stamp['layer_self_s']}")
        if "tracing_overhead" in stamp:
            print(f"tracing overhead (traced - untraced): {stamp['tracing_overhead']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
