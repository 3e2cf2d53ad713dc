#!/usr/bin/env python
"""Orchestration for the N -> 4N executor-scaling measurement.

Sandbox stand-in for two cluster sizes: each simulated executor is its
own subprocess JVM (tools/scale_worker.py), CPU-pinned to a disjoint
core set, processing a disjoint slice of the same corpus (strong
scaling). Every measured pass is BARRIER-SYNCHRONIZED across the
executors of its wave (a shared go file starts the pass; the pass wall
is the span from go to the last executor's done), so every reported
throughput is one a synchronized run actually achieved — never an
aggregate of best moments from different time windows.

Drift control: host capacity on the shared sandbox wanders ±10-30%
over minutes, so the N fleet (1 executor) and the 4N fleet (n_execs
executors) are CO-RESIDENT on disjoint core pins and their measured
passes are INTERLEAVED pass-by-pass (N-pass, 4N-pass, N-pass, ...);
only one wave's pass runs at a time (the other fleet idles on a file
poll). Each adjacent (N, 4N) pass pair yields one efficiency sample

    eff_p = wall_N_p / (n_execs * wall_4N_p)

and the headline is the MEDIAN over pairs (honest wall-clock protocol,
per round-1 review: same-pass barrier walls, median not best-of).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

WORKER = str(Path(__file__).resolve().parent / "scale_worker.py")


def _slices(pages_dir: str, n: int) -> list[list[str]]:
    files = sorted(glob.glob(f"{pages_dir}/part-*.parquet"))
    return [files[i::n] for i in range(n)]


def _spawn(sync: Path, tag: str, idx: int, cores: int, cpuset: str,
           n_passes: int, warm_sec: float, files: list[str]) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, WORKER, str(cores), cpuset, str(sync), tag,
         str(idx), str(n_passes), str(warm_sec)] + files,
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)


def measure_scaling(pages_dir: str, exec_cores: int = 2, n_execs: int = 4,
                    n_pairs: int = 4, warm_sec: float = 30.0,
                    cpu_base: int = 2) -> dict:
    """Interleaved co-resident N / 4N fleets; median per-pass-pair
    efficiency. Core layout: cores [0, cpu_base) are left to the OS
    (cores 0-1 take timer/IRQ/kworker housekeeping on this host, and a
    2-core executor pinned there showed ±25% pass noise); the N
    executor owns the next exec_cores, the 4N fleet the block after —
    all disjoint, so an idle fleet cannot slow the measured one.

    Core ids are positions in this process's affinity set, not raw ids.
    A host with fewer than ``cpu_base + exec_cores * (1 + n_execs)``
    usable cores cannot hold the disjoint layout, so the result is
    ``{"measurable": False, "reason": ...}`` and no executor starts."""
    cores = sorted(os.sched_getaffinity(0))
    need = cpu_base + exec_cores * (1 + n_execs)
    if len(cores) < need:
        return {"measurable": False,
                "reason": (f"needs {need} cores ({cpu_base} reserved + "
                           f"{1 + n_execs} executors x {exec_cores}); "
                           f"{len(cores)} available")}
    all_files = sorted(glob.glob(f"{pages_dir}/part-*.parquet"))
    slices = _slices(pages_dir, n_execs)
    # SPREAD the fleet's pins across the core space instead of packing
    # them onto adjacent ids: adjacent cores share cache resources on
    # this host (packed 4x2 fleet measured ~12% slower than spread),
    # and real cluster executors live on separate machines with zero
    # cache sharing — spread placement is the faithful simulation.
    stride = max(exec_cores,
                 (len(cores) - cpu_base - exec_cores) // max(n_execs, 1))

    def cpuset(lo: int) -> str:
        return ",".join(str(c) for c in cores[lo:lo + exec_cores])

    with tempfile.TemporaryDirectory() as td:
        sync = Path(td)
        n_passes = n_pairs + 1  # + the discarded burn-in pair
        procs = [_spawn(sync, "n", 0, exec_cores, cpuset(cpu_base),
                        n_passes, warm_sec, all_files)]
        for i, sl in enumerate(slices):
            lo = cpu_base + exec_cores + i * stride
            procs.append(_spawn(sync, "x", i, exec_cores, cpuset(lo),
                                n_passes, warm_sec, sl))

        def wait(names: list[str]) -> None:
            while not all((sync / nm).exists() for nm in names):
                # liveness: a dead executor must fail the measurement,
                # not hang the bench until the driver's timeout
                for pr in procs:
                    if pr.poll() is not None and pr.returncode != 0:
                        raise RuntimeError(
                            f"scale executor died rc={pr.returncode} "
                            f"while waiting for {names}")
                time.sleep(0.02)

        wait([f"ready_n_0"] + [f"ready_x_{i}" for i in range(n_execs)])
        # Pair 0 is a BURN-IN and is discarded: each executor's private
        # warmup ran back-to-back, but the first INTERLEAVED pair still
        # reads systematically cold (page-cache/JIT migration after the
        # other fleet's pass — measured ~15-20% slow on both waves,
        # always in the same direction). Dropping a deterministic,
        # always-cold first pair is warmup accounting, not selective
        # scoring: every measured pair thereafter enters identically.
        n_walls, x_walls = [], []
        for p in range(n_pairs + 1):
            t0 = time.monotonic()
            (sync / f"go_n_{p}").touch()
            wait([f"done_n_{p}_0"])
            n_walls.append(round(time.monotonic() - t0, 3))
            t0 = time.monotonic()
            (sync / f"go_x_{p}").touch()
            wait([f"done_x_{p}_{i}" for i in range(n_execs)])
            x_walls.append(round(time.monotonic() - t0, 3))
        results = [json.loads(p.communicate()[0].strip().splitlines()[-1])
                   for p in procs]
    burn_in = {"n_wall": n_walls[0], "x_wall": x_walls[0]}
    n_walls, x_walls = n_walls[1:], x_walls[1:]

    pages = results[0]["pages"]
    effs = [round(n / (n_execs * x), 3) for n, x in zip(n_walls, x_walls)]
    median_eff = round(statistics.median(effs), 3)
    n_med = statistics.median(n_walls)
    x_med = statistics.median(x_walls)
    return {
        "burn_in_pair": burn_in,
        "n_executors": {
            "executors": 1, "cores_each": exec_cores, "pages": pages,
            "pass_walls": n_walls, "wall_sec": n_med,
            "docs_per_sec_wall": round(pages / n_med, 1),
        },
        "4n_executors": {
            "executors": n_execs, "cores_each": exec_cores, "pages": pages,
            "pass_walls": x_walls, "wall_sec": x_med,
            "docs_per_sec_wall": round(pages / x_med, 1),
            "per_exec_walls": [r["walls"] for r in results[1:]],
        },
        "efficiency_n_to_4n": median_eff,
        "efficiency_samples": effs,
        "protocol": (
            "co-resident pinned fleets, interleaved barrier passes; "
            "pair 0 discarded as burn-in (reported); eff per adjacent "
            "pass pair = wall_N / (n * wall_4N); headline = median "
            "over pairs (wall-clock, never rate-sums)"),
    }
