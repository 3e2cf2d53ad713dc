"""Tests of the benchmark's own machinery.

    python3 -m pytest perfbench/tests -q

The last test runs one traced benchmark end to end (about two minutes
on four cores).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
REPO = BENCH.parent
sys.path[:0] = [str(BENCH), str(REPO)]

from inputs import (CHAIN_LEN, N_CHAINS, build_corpus, chain_names,  # noqa: E402
                    write_triples_parquet)
from reference import min_label_components  # noqa: E402
from spans import engine_metrics, read_event_log  # noqa: E402

EVENT_LOG = HERE / "data" / "eventlog.jsonl"


def test_event_log_rolls_up_by_job_group():
    roll = read_event_log(EVENT_LOG)
    # the recorded application: one ungrouped warm-up job, then a
    # 2-partition count in group "g/count" and a 3-partition shuffle
    # (map + reduce stage) in group "g/shuffle"
    assert set(roll) == {None, "g/count", "g/shuffle"}
    count, shuffle = roll["g/count"], roll["g/shuffle"]
    assert (count["jobs"], count["tasks"]) == (1, 2)
    assert shuffle["jobs"] == 1
    assert shuffle["tasks"] == 3 + 2
    assert count["shuffle_write_bytes"] == 0
    assert shuffle["shuffle_write_bytes"] > 0
    assert count["records_read"] == 0
    # totals equal the per-task sums written in the log
    tasks = [json.loads(line) for line in EVENT_LOG.read_text().splitlines()
             if '"SparkListenerTaskEnd"' in line]
    assert sum(r["run_ms"] for r in roll.values()) == sum(
        t["Task Metrics"]["Executor Run Time"] for t in tasks)
    assert sum(r["cpu_ns"] for r in roll.values()) == sum(
        t["Task Metrics"]["Executor CPU Time"] for t in tasks)


def test_engine_metrics_units_and_skew():
    roll = {"jobs": 2, "tasks": 4, "run_ms": 3000, "cpu_ns": 2 * 10**9, "gc_ms": 500,
            "shuffle_write_bytes": 2**20, "spill_bytes": 0, "records_read": 10,
            "stage_task_ms": {0: [100, 100, 400], 1: [50]}}
    m = engine_metrics(roll)
    assert m["spark.executor_run_s"] == 3.0
    assert m["spark.executor_cpu_s"] == 2.0
    assert m["spark.gc_s"] == 0.5
    assert m["spark.shuffle_write_mb"] == 1.0
    assert m["spark.task_skew"] == 4.0  # longest stage: max 400 / median 100


def test_union_find_reference_on_toy_graph():
    vertices = ["a", "b", "c", "d", "e", "f", "g"]
    edges = [("d", "c"), ("c", "b"), ("f", "e"), ("b", "d")]
    labels = min_label_components(vertices, edges)
    assert labels == {"a": "a", "b": "b", "c": "b", "d": "b",
                      "e": "e", "f": "e", "g": "g"}


def test_union_find_chain_is_order_independent():
    chain = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(200)]
    forward = min_label_components([], chain)
    backward = min_label_components([], list(reversed(chain)))
    assert forward == backward
    assert set(forward.values()) == {"n000"}


def test_chain_names_link_only_neighbours():
    """Only neighbouring chain names clear the linker's 0.8 name-Jaccard
    threshold, so each chain's candidate edges form a path."""
    def shingles(name):
        return {name[i:i + 3] for i in range(len(name) - 2)}

    chains = chain_names()
    assert chains == chain_names()  # the same for every seed
    assert len(chains) == N_CHAINS
    names = [n for chain in chains for n in chain]
    assert len(set(names)) == N_CHAINS * CHAIN_LEN
    for chain in chains:
        for i, a in enumerate(chain):
            for j in range(i + 1, len(chain)):
                sa, sb = shingles(a), shingles(chain[j])
                linked = len(sa & sb) / len(sa | sb) >= 0.8
                assert linked == (j == i + 1), (i, j)


def test_plain_python_triples_have_the_extract_paths_columns(tmp_path):
    """The link workload's input carries the columns ``kg.run_pipeline``'s
    triples have, one file per page file plus one of engine rows."""
    import pyarrow.parquet as pq

    from npm_extraction_server_spark.plans.kg import TRIPLES_SCHEMA

    write_triples_parquet(build_corpus(0, REPO), tmp_path, 2)
    files = sorted(p.name for p in tmp_path.iterdir())
    assert files == ["part-00000.parquet", "part-00001.parquet", "part-engines.parquet"]
    for f in files:
        table = pq.read_table(tmp_path / f)
        assert table.schema.names == [n for n in TRIPLES_SCHEMA.names if n != "error"]
        assert table.num_rows > 0
        part_ids = set(table["part_id"].to_pylist())
        assert part_ids == ({-1} if f == "part-engines.parquet" else {int(f[5:10])})
    engines = pq.read_table(tmp_path / "part-engines.parquet")
    assert set(engines["src_url"].to_pylist()) == {"engine:"}


def test_printed_metric_names_match_benchmark_json():
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    results = REPO / ".perfbench" / "results"
    before = set(results.glob("*.json")) if results.exists() else set()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "link", "--seed", "0",
         "--seconds", "1", "--trace", "1"],
        cwd=REPO, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    printed = json.loads(proc.stdout.strip().splitlines()[-1])
    assert printed["correct"] and printed["failed"] == 0
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert {k: v["unit"] for k, v in printed["metrics"].items()} == per_layer
    (written,) = set(results.glob("*.json")) - before
    record = json.loads(written.read_text())
    end_to_end = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: v["unit"] for k, v in record["end_to_end"].items()} == end_to_end
