"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py

Checks, for every workload:
1. BENCHMARK.json and run.py name the same metrics with the same units,
   and a run prints every one of them with its unit.
2. A deliberately wrong expected value is caught: the op reports a wrong
   result, and the same op with the right value passes.
3. Every count metric repeats exactly across the traced passes of a run
   and across two runs of one seed.
Exits 0 when every check passes. Takes about ten minutes (seven Spark
sessions).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

SEED = 7
FAILS: list[str] = []


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        FAILS.append(what)


def check_declared_metrics() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for key, declared in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        listed = {m["name"]: m["unit"] for m in bench[key]}
        check(listed == declared, f"BENCHMARK.json {key} matches run.py")
    check([w["name"] for w in bench["workloads"]] == list(run.WORKLOAD_NAMES),
          "BENCHMARK.json workloads match run.py")


def check_wrong_expected_caught() -> None:
    """One Spark session; per workload, corrupt one expected value and
    require the op to fail, then restore it and require a pass."""
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"selftest-{os.getpid()}")
    nproc = run.pin_env(run_dir, trace=False)
    import spans
    from shapely_spark.spark.session import get_spark
    from workloads import WORKLOADS

    spark = get_spark(app="perfbench-selftest", master=f"local[{nproc}]")
    try:
        for name, cls in WORKLOADS.items():
            size = run.SIZES["tiny"]
            ctx = run.Ctx(spark, spans.Tracer(False), work, run_dir, SEED,
                          size["pages"], size["geom"])
            w = cls(ctx)
            w.prepare()
            w.setup()
            if name == "geom_join":
                L = w.layers["line_crosses"]
                good, L["pairs"] = L["pairs"], L["pairs"][1:]
                ok, _ = w.op(0)
                L["pairs"] = good
            else:
                w.ref["region_pairs"][0] += 1
                ok, _ = w.op(0)
                w.ref["region_pairs"][0] -= 1
            check(not ok, f"{name}: a wrong expected value fails the op")
            ok, _ = w.op(0)
            check(ok, f"{name}: the right expected value passes the op")
    finally:
        run.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        capture_output=True, text=True, timeout=600, cwd=ROOT)
    lines = out.stdout.strip().splitlines()
    check(out.returncode == 0 and len(lines) >= 2, f"{workload} trace={trace}: run exits 0")
    if out.returncode != 0 or len(lines) < 2:
        print(out.stdout[-2000:], out.stderr[-4000:], file=sys.stderr)
        return {}, {}
    return json.loads(lines[-2]), json.loads(lines[-1])


def check_runs() -> None:
    for workload in run.WORKLOAD_NAMES:
        for trace, declared in ((0, run.END_TO_END), (1, run.PER_LAYER)):
            stamp, res = _run(workload, trace)
            if not res:
                continue
            check(set(res) == {"correct", "attempted", "failed", "metrics"}
                  and res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{workload} trace={trace}: result line is correct")
            m = res["metrics"]
            check(set(m) == set(declared)
                  and all(m[k]["unit"] == u and isinstance(m[k]["value"], (int, float))
                          for k, u in declared.items()),
                  f"{workload} trace={trace}: every metric printed with its unit")
            if trace:
                check(stamp.get("counts_repeat") is True,
                      f"{workload}: counts repeat across the passes of a run")
                _, again = _run(workload, 1)
                counts = [k for k, u in declared.items() if u == "count"]
                diff = [k for k in counts
                        if again and again["metrics"][k]["value"] != m[k]["value"]]
                check(bool(again) and not diff,
                      f"{workload}: counts repeat across runs of one seed" + (f" {diff}" if diff else ""))


def main() -> int:
    check_declared_metrics()
    check_wrong_expected_caught()
    check_runs()
    print(f"{len(FAILS)} failed" if FAILS else "all checks passed")
    return 1 if FAILS else 0


if __name__ == "__main__":
    sys.exit(main())
