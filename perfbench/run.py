"""Benchmark entry point.

    python3 perfbench/run.py --workload {extract,link} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. With ``--trace 0`` the last stdout line is
a JSON object carrying every end-to-end metric of ``BENCHMARK.json``; with
``--trace 1`` it carries every per-layer metric instead (the run then
switches Spark's event log on, makes one cold and one warm pass, then a
traced pass, and sweeps every layer once, see ``layers.py``). The exit
code is 0 only when every correctness gate held. The full record of a run (both metric sets, a manifest of code, host and
configuration, and the spans) is written under ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORK = REPO / ".perfbench"
# warm passes a run makes at least, whatever --seconds says: about ten
# seconds of warm passes each (a link pass takes as long as two extract
# passes), which is what 48 runs in the 3,420 s budget leave room for; a
# traced run makes one, which its traced pass is compared with
MIN_WARM = {"extract": 2, "link": 1}
# set-ups in a running JVM an untraced run makes; setup_s is their median
SETUPS = 3


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def measure(wl, seconds: float, min_warm: int):
    """A cold pass, then warm passes until ``seconds`` have passed and at
    least ``min_warm`` ran. Every pass is checked once all have run, so no
    check's work lands between timed passes. Returns
    (cold_s, [warm_s], [warm CPU s of the process tree], attempted, failed)."""
    import host

    times, cpu, outs = [], [], []

    def one(i):
        t0, c0 = time.perf_counter(), host.tree_cpu_s()
        try:
            outs.append(wl.run_pass(i))
        except Exception:
            traceback.print_exc()
            outs.append(None)
        times.append(time.perf_counter() - t0)
        cpu.append(host.tree_cpu_s() - c0)

    one(0)
    t_begin = time.perf_counter()
    while len(times) - 1 < min_warm or time.perf_counter() - t_begin < seconds:
        one(len(times))

    t0 = time.perf_counter()
    attempted = failed = 0
    for i, out in enumerate(outs):
        fails = ["pass raised"] if out is None else wl.check(out)
        attempted += wl.ops_per_pass
        failed += min(wl.ops_per_pass, len(fails))
        for f in fails[:5]:
            _log(f"FAILED {wl.name} pass {i}: {f}")
    _log(f"checked {len(outs)} passes in {time.perf_counter() - t0:.2f}s")
    return times[0], times[1:], cpu[1:], attempted, failed


def with_units(values: dict[str, float], declared: list[dict]) -> dict:
    """name -> {value, unit}; the names must be exactly those declared."""
    units = {m["name"]: m["unit"] for m in declared}
    if set(values) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: "
                           f"{sorted(set(values) ^ set(units))}")
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["extract", "link"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path.insert(0, str(REPO))
    try:
        import npm_extraction_server_spark  # noqa: F401
    except ImportError as e:
        _log(f"the package under test is missing: {e}")
        return 2
    from bench import _StealSampler

    import host
    import layers
    from spans import Tracer
    from workloads import WORKLOADS, Artifacts

    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    Workload = WORKLOADS[args.workload]
    art = Artifacts(REPO, WORK, args.seed, host.cores())
    # inputs are made (or found in the cache) before the JVM starts
    t0 = time.perf_counter()
    for name in dict.fromkeys([*Workload.needs, *(layers.Sweep.needs if args.trace else ())]):
        getattr(art, name)()
    gen_s = time.perf_counter() - t0

    run_dir = WORK / "run" / f"{args.workload}-{os.getpid()}"
    event_log = run_dir / "eventlog" if args.trace else None
    session = host.Session(f"perfbench-{args.workload}", host.confine(run_dir, event_log))
    spans = []
    steal = _StealSampler()
    per_layer = {}
    try:
        with host.RssSampler() as rss, steal:
            # the first set-up launches the JVM (its session start is the
            # per-layer session.start_s); setup_s is the median of SETUPS
            # more, each a new session in that JVM: session start, warm-up
            # job and input load, so work moved into set-up shows
            setups = []
            for i in range(1 + (0 if args.trace else SETUPS)):
                if i:
                    session.spark.stop()
                t0 = time.perf_counter()
                spark = session.start()
                if i == 0:
                    session_start_s = time.perf_counter() - t0
                spark.range(1000).selectExpr("sum(id)").collect()  # warm-up job
                wl = Workload(spark, art, run_dir)
                wl.load()
                setups.append(time.perf_counter() - t0)
            setup_s = statistics.median(setups[1:] or setups)
            _log(f"setups {[round(x, 2) for x in setups]}s "
                 f"(after {gen_s:.2f}s of input generation)")

            cold, warm, warm_cpu, attempted, failed = measure(
                wl, 0 if args.trace else args.seconds, 1 if args.trace else MIN_WARM[wl.name])
            batch_s = statistics.median(warm)
            _log(f"cold {cold:.3f}s warm {[round(w, 3) for w in warm]} "
                 f"cpu {[round(c, 2) for c in warm_cpu]}")
            end_to_end = {
                "setup_s": setup_s,
                "cold_s": cold,
                "batch_s": batch_s,
                "items_per_cpu_s": wl.items / statistics.median(warm_cpu),
            }
            confs = host.session_confs(spark)
            if args.trace:
                tracer = Tracer(spark.sparkContext)
                spans = tracer.spans
                sweep = layers.Sweep(spark, art, tracer, run_dir, wl)
                sweep.run()
                session.spark.stop()  # flushes and closes the event log
                per_layer = with_units(sweep.metrics(
                    next(event_log.iterdir()),
                    session_start_s=session_start_s, untraced_batch_s=batch_s,
                    peak_rss_mb=rss.peak_mb),
                    spec["per_layer"])
                attempted += sweep.attempted
                failed += sweep.failed
    finally:
        session.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)

    end_to_end = with_units(end_to_end, spec["end_to_end"])
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": per_layer if args.trace else end_to_end}
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.time_ns()}"
    (results / f"{stem}.json").write_text(json.dumps({
        "correct": result["correct"], "attempted": attempted, "failed": failed,
        "end_to_end": end_to_end, "per_layer": per_layer,
        "manifest": host.manifest(REPO, confs, args.seed, args.workload, steal.summary()),
        "spans": spans}, indent=1))
    for k, m in result["metrics"].items():
        _log(f"{k:40s} {m['value']:14.4f} {m['unit']}")
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
