"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The fast tests need no Spark. ``test_output_schema`` runs every workload on
a tiny corpus, untraced and traced (a few minutes), and pins the output to
the metric names and units in BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import checks  # noqa: E402
import eventlog  # noqa: E402
import inputs  # noqa: E402


def _rows(entities: int = 50, copies: int = 3) -> list[tuple[str, str]]:
    """A perfect assignment: each entity's copies cluster under copy 0."""
    return [
        (f"e{e:06d}_c{c}", f"e{e:06d}_c0") for e in range(entities) for c in range(copies)
    ]


def test_gate_passes_a_correct_assignment():
    rows = _rows()
    assert checks.check_assignment(rows, {conv for conv, _ in rows}) == []
    assert checks.pairwise_f1(rows)["f1"] == 1.0


@pytest.mark.parametrize(
    "corrupt",
    [
        pytest.param(lambda rows: rows[1:], id="conversation-missing"),
        pytest.param(lambda rows: rows + rows[:1], id="conversation-twice"),
        pytest.param(lambda rows: [(conv, "x") for conv, _ in rows], id="all-merged"),
        pytest.param(lambda rows: [(conv, conv) for conv, _ in rows], id="all-split"),
        pytest.param(
            lambda rows: [(conv, cid if i % 3 else "e000000_c0") for i, (conv, cid) in enumerate(rows)],
            id="a-third-relabelled",
        ),
    ],
)
def test_gate_fires_on_a_corrupted_assignment(corrupt):
    rows = _rows()
    assert checks.check_assignment(corrupt(rows), {conv for conv, _ in rows})


def test_digest_is_order_free_and_label_sensitive():
    rows = _rows()
    assert checks.digest(rows) == checks.digest(list(reversed(rows)))
    moved = [rows[0]] + [(rows[1][0], rows[1][0])] + rows[2:]
    assert checks.digest(moved) != checks.digest(rows)


def test_pairs_completeness_counts_only_pairs_with_a_new_side():
    convs = {"e000001_c0", "e000001_c1", "e000001_c2"}
    new = {"e000001_c2"}
    assert checks.pairs_completeness([("e000001_c0", "e000001_c2")], convs, new=new) == 0.5
    assert checks.pairs_completeness([("e000001_c0", "e000001_c1")], convs) == pytest.approx(1 / 3)


def test_stream_split_partitions_the_corpus_into_equal_batches():
    turns = {f"e{i:06d}_c0": 5 + i % 7 for i in range(1000)}
    *batches, seed = inputs.stream_split(turns)
    assert len(batches) == inputs.N_MICRO_BATCHES
    parts = batches + [seed]
    assert sum(len(p) for p in parts) == len(turns) and set().union(*parts) == set(turns)
    target = inputs.BATCH_SHARE * sum(turns.values())
    for b in batches:
        assert target <= sum(turns[c] for c in b) < target + max(turns.values())


def test_eventlog_reducer_charges_tasks_to_job_groups(tmp_path):
    def task(stage, run_ms, sent):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {"Accumulables": [{"Name": eventlog.PY_SENT, "Update": str(sent)}]},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": run_ms * 10**6,
                "JVM GC Time": 1,
                "Shuffle Read Metrics": {"Remote Bytes Read": 2, "Local Bytes Read": 3},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                "Disk Bytes Spilled": 0,
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Properties": {"spark.jobGroup.id": "scoring"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 4},
         "Properties": {"spark.jobGroup.id": "scoring"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 5}, "Properties": {}},
        task(4, 1000, 100),
        task(4, 500, 50),
        task(5, 200, 0),
    ]
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in events))
    reduced = eventlog.reduce_log(eventlog.find_log(str(tmp_path)))
    s = reduced["scoring"]
    assert (s["jobs"], s["tasks"], s["py_sent_bytes"], s["shuffle_read_bytes"]) == (1, 2, 150, 10)
    assert s["run_s"] == pytest.approx(1.5) and s["cpu_s"] == pytest.approx(1.5)
    assert reduced[""]["tasks"] == 1


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero without
    printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stream_delta", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def _bench(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["batch_long_ckpt", "stream_delta"])
def test_output_schema(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert workload in {w["name"] for w in spec["workloads"]}
    out = _bench(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    expected = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == expected
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())
