"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pages_batch --seed 1 --seconds 10 --trace 0

Workloads: pages_batch and geom_join (see README.md). The
last stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}; ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer ones. The line before it stamps the run: host, date,
commit, and a host-speed probe timed at start and end.

Run from a checkout holding the engine (``shapely_spark/``) next to
``perfbench/``. Inputs and expected outputs are cached per seed under
``.perfbench/`` in that checkout; every other file a run writes goes to
a per-run directory there that is removed when the run ends.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Input sizes. "full" is what the benchmark measures: a pass of each batch
# workload takes a few seconds on a 4-core host, so a run holds several
# passes plus set-up in under a minute. "tiny" is for the self-test.
SIZES = {
    "full": {"pages": 40_000,
             "geom": {"ngon_intersects": 1600, "diamond_touches": 800,
                      "rect_intersects": 5000, "line_crosses": 400}},
    "tiny": {"pages": 4000,
             "geom": {"ngon_intersects": 200, "diamond_touches": 100,
                      "rect_intersects": 400, "line_crosses": 60}},
}
# A fixed driver heap: session.py's default (48g) lets the JVM's resident
# memory wander with GC timing from run to run.
DRIVER_MEM = "3g"
OP_PROP = "perfbench.op"
WORKLOAD_NAMES = ("pages_batch", "geom_join")

END_TO_END = {"rows_per_s": "rows/s", "op_p50_s": "s", "cpu_s": "s", "setup_s": "s"}
_GEOM = ("ngon_intersects", "diamond_touches", "rect_intersects", "line_crosses")
PER_LAYER = {
    "session.start_s": "s", "session.peak_rss_mb": "MB",
    "daemon.python_boot_s": "s", "daemon.worker_peak_rss_mb": "MB",
    "extract.s": "s", "extract.rows": "count", "extract.geotagged_rows": "count",
    "extract.scan_bytes": "bytes",
    "cells.cover_s": "s", "cells.cover_rows": "count", "cells.full_frac": "ratio",
    "cells.bbox_cover_rows_per_geom": "ratio",
    "join.call_s": "s", "join.s": "s", "join.candidate_rows": "count",
    "join.bypass_rows": "count", "join.refine_rows": "count", "join.pairs": "count",
    "join.pairs_per_candidate": "ratio", "join.broadcast_bytes": "bytes",
    "join.arrow_sent_bytes": "bytes", "join.arrow_recv_bytes": "bytes",
    "join.python_s": "s",
    "kernels.classify_s": "s", "kernels.classify_rows_per_s": "rows/s",
    **{f"join_geom.{g}.{m}": u for g in _GEOM for m, u in (
        ("call_s", "s"), ("s", "s"), ("cover_rows", "count"), ("candidate_rows", "count"),
        ("bbox_pass_rows", "count"), ("rect_jvm_rows", "count"), ("refine_rows", "count"),
        ("pairs", "count"))},
    "group_predicates.s": "s", "group_predicates.pairs": "count",
    "group_predicates.declined": "count",
    "wkb.parse_s": "s",
    "tiles.s": "s", "tiles.tiles": "count",
    "knn.call_s": "s", "knn.s": "s", "knn.rows": "count", "knn.targets": "count",
    "pages.write_s": "s", "pages.write_rows_per_s": "rows/s",
    "pages.files_written": "count", "pages.bytes_written": "bytes",
    "pages.read_call_s": "s", "pages.query_p50_s": "s", "pages.files_read": "count",
    "pages.rows_scanned_per_row_returned": "ratio",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.gc_s": "s", "scheduler.shuffle_bytes": "bytes",
    "trace.plan_s": "s", "trace.unattributed_s": "s", "trace.layer_sum_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    run_dir: str
    seed: int
    n_pages: int
    geom_sizes: dict


def pin_env(run_dir: str, trace: bool) -> int:
    """Environment for this process and its JVM: one local[nproc]
    session, a fixed heap, and every temporary file inside the checkout."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if trace:
        evdir = os.path.join(run_dir, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{evdir}",
                 "--conf", "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"
    return nproc


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit (it exits when the
    gateway's stdin closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _layer_name(span: str) -> str:
    if span == "op":
        return "trace.unattributed_s"
    if span == "trace.plan":
        return "trace.plan_s"
    return span + "_s" if span.endswith(".call") else span + ".s"


def measure(w, ctx: Ctx, seconds: float, trace: bool) -> dict:
    """The timed loop: ops until ``seconds`` have passed and at least
    ``w.min_ops`` ran. A traced run pairs each traced op with a plain op
    on the same inputs, in the order T P P T ..., so the difference is
    the tracing overhead and not the position in the run."""
    from procstat import tree_cpu_s

    sc, tracer = ctx.spark.sparkContext, ctx.tracer
    ops = []
    reps = 2 if trace else 1
    cpu0, t_loop = tree_cpu_s(), time.perf_counter()
    i = 0
    while True:
        traced = trace and i % 4 in (0, 3)
        tracer.enabled, tracer.op = traced, f"op{i}"
        sc.setLocalProperty(OP_PROP, tracer.op)
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                ok, counts = w.op(i)
        except Exception:  # a failed op is counted, the run goes on
            traceback.print_exc()
            ok, counts = False, {}
        ops.append({"i": i, "s": time.perf_counter() - t0, "ok": ok,
                    "traced": traced, "counts": counts})
        i += 1
        if (time.perf_counter() - t_loop >= seconds and i >= reps * w.min_ops
                and i % reps == 0):
            break
    cpu = tree_cpu_s() - cpu0
    tracer.enabled = False
    return {"ops": ops, "cpu_s": cpu / len(ops)}


def end_to_end(w, res: dict, setup_s: float) -> dict:
    secs = [o["s"] for o in res["ops"]]
    return {
        "rows_per_s": w.rows / statistics.median(secs),
        "op_p50_s": statistics.median(secs),
        "cpu_s": res["cpu_s"],
        "setup_s": setup_s,
    }


def counts_repeat(res: dict) -> bool:
    """Whether every count metric reads the same in every traced op."""
    keys = [k for k, u in PER_LAYER.items() if u == "count"]
    traced = [[o["counts"].get(k) for k in keys] for o in res["ops"] if o["traced"]]
    return all(t == traced[0] for t in traced)


def per_layer(ctx: Ctx, res: dict, probes: dict, session_s: float, events: dict) -> dict:
    tracer = ctx.tracer
    traced = [o for o in res["ops"] if o["traced"]]
    plain = [o["s"] for o in res["ops"] if not o["traced"]]
    m = {k: 0.0 for k in PER_LAYER}
    m.update(traced[0]["counts"])  # counts repeat across ops (counts_repeat)
    for key in ("jobs", "stages", "tasks", "gc_s", "shuffle_bytes"):
        m["scheduler." + key] = events.get(f"op{traced[0]['i']}", {}).get(key, 0)
    selfs = [tracer.self_times(f"op{o['i']}") for o in traced]
    for name in {n for s in selfs for n in s}:
        m[_layer_name(name)] = statistics.median(s.get(name, 0.0) for s in selfs)
    m["trace.layer_sum_frac"] = statistics.median(
        sum(v for n, v in s.items() if n not in ("op", "trace.plan"))
        / (o["s"] - s.get("trace.plan", 0.0)) for s, o in zip(selfs, traced))
    m["trace.overhead_frac"] = (statistics.median(o["s"] for o in traced)
                                / statistics.median(plain) - 1.0)
    m["session.start_s"] = session_s
    m.update(probes)
    return {k: m[k] for k in PER_LAYER}


def _session_run(args, work: str, run_dir: str, nproc: int, excluded: float):
    """Session start, set-up, warm-up, the timed loop and (traced) the
    direct layer calls; returns (loop result, metrics, setup_s, session_s)."""
    import procstat
    import spans
    from workloads import WORKLOADS

    spark = None
    try:
        from shapely_spark.spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(app=f"perfbench-{args.workload}", master=f"local[{nproc}]")
        session_s = time.perf_counter() - t
        ctx = Ctx(spark, spans.Tracer(False), work, run_dir, args.seed,
                  SIZES[args.size]["pages"], SIZES[args.size]["geom"])
        w = WORKLOADS[args.workload](ctx)
        t = time.perf_counter()
        w.prepare()  # seeded inputs + expected outputs, cached: not set-up
        excluded += time.perf_counter() - t
        w.setup()
        w.warm()
        setup_s = time.perf_counter() - T0 - excluded
        res = measure(w, ctx, args.seconds, bool(args.trace))
        peak_mb, worker_mb = procstat.peak_rss_mb()  # before the probes add their own work
        probes = {**w.probes(), "session.peak_rss_mb": peak_mb,
                  "daemon.worker_peak_rss_mb": worker_mb} if args.trace else {}
        app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            stop_spark(spark)
    if args.trace:
        # the event log is complete once the session has stopped
        events = spans.event_log_stats(os.path.join(run_dir, "eventlog"), app_id, OP_PROP)
        metrics = per_layer(ctx, res, probes, session_s, events)
        ctx.tracer.dump(os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.json"))
    else:
        metrics = end_to_end(w, res, setup_s)
    return res, metrics, setup_s, session_s


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "shapely_spark")):
        print(f"perfbench: no shapely_spark/ next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    nproc = pin_env(run_dir, bool(args.trace))

    import procstat

    t = time.perf_counter()
    probe_start = procstat.host_probe_s()
    excluded = time.perf_counter() - t
    try:
        res, metrics, setup_s, session_s = _session_run(args, work, run_dir, nproc, excluded)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    failed = sum(not o["ok"] for o in res["ops"])
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "stamp": procstat.stamp(ROOT, nproc),
        "host_probe_s": {"start": probe_start, "end": procstat.host_probe_s()},
        "ops": len(res["ops"]), "op_s": [round(o["s"], 4) for o in res["ops"]],
        "setup_s": setup_s, "session_s": session_s,
        **({"counts_repeat": counts_repeat(res)} if args.trace else {}),
    }))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(res["ops"]), "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
