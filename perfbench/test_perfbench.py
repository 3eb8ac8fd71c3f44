"""Self-tests of the benchmark's own code (no Spark session needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import stats  # noqa: E402

# ---------------------------------------------------------------------------
# seeded inputs
# ---------------------------------------------------------------------------


def test_same_seed_same_corpus_keys_and_order():
    vocab = gen.make_vocab(5)
    assert vocab == gen.make_vocab(5) and len(set(vocab)) == len(vocab)
    assert gen.make_corpus(5, 20_000, vocab) == gen.make_corpus(5, 20_000, vocab)
    assert gen.make_corpus(5, 20_000, vocab) != gen.make_corpus(6, 20_000, vocab)
    assert gen.make_lookup_keys(5, vocab, 4, 2) == gen.make_lookup_keys(5, vocab, 4, 2)
    assert gen.make_kv_batches(5, vocab, 3, 8) == gen.make_kv_batches(5, vocab, 3, 8)
    names = [f"op{i}" for i in range(11)]
    assert gen.op_order(5, names) == gen.op_order(5, names)
    assert sorted(gen.op_order(5, names)) == sorted(names)


def test_corpus_has_the_offset_quirks():
    text = gen.make_corpus(1, 50_000, gen.make_vocab(1))
    lines = text.split("\n")
    assert "" in lines  # blank lines
    assert any(ln and not ln.strip() for ln in lines)  # whitespace-only
    assert any("  " in ln.strip() for ln in lines)  # runs of spaces
    assert any(c in text for c in ",.;:!?'")  # punctuation to strip
    assert not text.endswith("\n")  # last line without newline


def test_lookup_keys_hit_and_miss():
    vocab = gen.make_vocab(2)
    keys = gen.make_lookup_keys(2, vocab, 5, 3)
    assert sum(k in vocab for k in keys) == 5
    batches = gen.make_kv_batches(2, vocab, 4, 20)
    stored = set(vocab) | {k for b in batches for k, _ in b}
    assert sum(k not in stored for k in keys) == 3


# ---------------------------------------------------------------------------
# percentile rule
# ---------------------------------------------------------------------------


def test_percentile_interpolates_between_ranks():
    vals = [float(v) for v in range(1, 101)]
    assert stats.percentile(vals, 0.5) == pytest.approx(50.5)
    assert stats.percentile(vals, 0.9) == pytest.approx(90.1)
    assert stats.percentile([3.0], 0.9) == 3.0
    assert stats.percentile([4.0, 1.0, 3.0, 2.0], 0.5) == pytest.approx(2.5)
    assert stats.percentile([1.0, 2.0], 1.0) == 2.0


def test_samples_beyond_p90():
    assert stats.beyond([float(v) for v in range(1, 101)], 0.9) == 10
    assert stats.beyond([float(v) for v in range(1, 100)], 0.9) == 10
    assert stats.beyond([float(v) for v in range(1, 11)], 0.9) == 1
    assert stats.beyond([1.0] * 50, 0.9) == 0  # ties are not beyond
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


# ---------------------------------------------------------------------------
# spans and self time
# ---------------------------------------------------------------------------


def _span(i, start, end, parent=None):
    return stats.Span(i, f"s{i}", start, end, parent, "r")


def test_self_time_subtracts_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 5.0, 6.0, 0)]
    assert stats.self_time(parent, kids) == pytest.approx(7.0)


def test_self_time_counts_overlap_once_and_clips():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 4.0, 0), _span(2, 3.0, 5.0, 0), _span(3, 8.0, 12.0, 0)]
    # covered: [1,5] and [8,10] -> 6
    assert stats.self_time(parent, kids) == pytest.approx(4.0)
    assert stats.self_time(parent, []) == pytest.approx(10.0)


def test_tracer_records_parents_only_when_enabled(tmp_path):
    tr = stats.Tracer("run-1")
    with tr.span("off"):
        pass
    assert tr.spans == []
    tr.enabled = True
    with tr.span("op", op="q") as op:
        with tr.span("plans.construct"):
            pass
    assert [s.name for s in tr.spans] == ["op", "plans.construct"]
    assert tr.spans[1].parent == op.span_id and tr.spans[0].parent is None
    assert all(s.run_id == "run-1" and s.end >= s.start for s in tr.spans)
    out = tmp_path / "spans.jsonl"
    tr.write(str(out))
    assert [json.loads(x)["name"] for x in out.read_text().splitlines()] == [
        "op", "plans.construct"
    ]


# ---------------------------------------------------------------------------
# result hashing
# ---------------------------------------------------------------------------


def test_rows_hash_is_order_insensitive():
    a = stats.canon_rows([(1, "x", 0.5), (2, "y", 1.5)], ["k", "s", "v"])
    b = stats.canon_rows([("y", 1.5, 2), ("x", 0.5, 1)], ["s", "v", "k"])
    assert stats.rows_hash(a) == stats.rows_hash(b)
    c = stats.canon_rows([(1, "x", 0.5), (2, "y", 1.25)], ["k", "s", "v"])
    assert not stats.rows_match(a, c)


def test_rows_match_tolerates_summation_order_only():
    a = stats.canon_rows([(0.1 + 0.2 + 0.3,)], ["v"])
    b = stats.canon_rows([(0.3 + 0.2 + 0.1,)], ["v"])
    assert stats.rows_match(a, b)
    assert not stats.rows_match(a, stats.canon_rows([(0.6001,)], ["v"]))


# ---------------------------------------------------------------------------
# event log folding
# ---------------------------------------------------------------------------


def _task(stage, run_ms, gc=0, inp=0, sw=0, sr=0, wait=0, spill=0, py=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Accumulables": [
                {"ID": 1, "Name": stats.PY_SENT, "Update": str(py)},
                {"ID": 2, "Name": "number of output rows", "Update": "7"},
            ]
        },
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": gc,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": inp},
            "Output Metrics": {"Bytes Written": 0},
            "Shuffle Read Metrics": {
                "Remote Bytes Read": 0,
                "Local Bytes Read": sr,
                "Fetch Wait Time": wait,
            },
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
        },
    }


FIXTURE = [
    {"Event": "SparkListenerApplicationStart", "App Name": "x"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "q:construct"}},
    _task(0, 100, gc=10, inp=2 * 1024 * 1024),
    _task(0, 300, sw=1024 * 1024),
    {"Event": "SparkListenerStageCompleted",
     "Stage Info": {"Stage ID": 0, "Submission Time": 1000, "Completion Time": 1400}},
    _task(1, 50, sr=1024 * 1024, wait=20, py=512 * 1024),
    {"Event": "SparkListenerStageCompleted",
     "Stage Info": {"Stage ID": 1, "Submission Time": 1400, "Completion Time": 1460}},
    # job 1 lists stage 1 again but skips it, and runs stage 2
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
     "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "q:execute"}},
    _task(2, 40, spill=3 * 1024 * 1024),
    _task(2, 40),
    _task(2, 120),
    {"Event": "SparkListenerStageCompleted",
     "Stage Info": {"Stage ID": 2, "Submission Time": 2000, "Completion Time": 2200}},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 5000,
     "Stage IDs": [3], "Properties": {}},
    _task(3, 10),
]


def _log():
    return stats.parse_event_log(json.dumps(e) for e in FIXTURE)


def test_fold_event_log_counts():
    jobs, stages = _log()
    assert jobs[0].group == "q:construct" and jobs[2].group is None
    t = stats.fold(jobs, stages, [0])
    assert (t.jobs, t.stages, t.tasks) == (1, 2, 3)
    assert t.task_s == pytest.approx(0.45)
    assert t.gc_s == pytest.approx(0.01)
    assert t.input_mb == pytest.approx(2.0)
    assert t.shuffle_write_mb == pytest.approx(1.0)
    assert t.shuffle_read_mb == pytest.approx(1.0)
    assert t.shuffle_wait_s == pytest.approx(0.02)
    assert t.python_mb == pytest.approx(0.5)
    # slowest stage is stage 0 (400 ms): max 300 / median 200
    assert t.task_skew == pytest.approx(1.5)


def test_fold_counts_a_skipped_stage_once():
    jobs, stages = _log()
    t = stats.fold(jobs, stages, [1])
    assert (t.jobs, t.stages, t.tasks) == (1, 1, 3)
    assert t.spill_mb == pytest.approx(3.0)
    assert t.task_skew == pytest.approx(3.0)  # 120 / 40
    both = stats.fold(jobs, stages, [0, 1])
    assert (both.stages, both.tasks) == (3, 6)


def test_jobs_in_time_windows():
    jobs, _ = _log()
    assert stats.jobs_in(jobs, [(0.5, 1.5)]) == [0]
    assert sorted(stats.jobs_in(jobs, [(0.5, 2.5), (4.0, 6.0)])) == [0, 1, 2]
    assert stats.jobs_in(jobs, [(3.0, 4.0)]) == []


# ---------------------------------------------------------------------------
# BENCHMARK.json agrees with what the run prints
# ---------------------------------------------------------------------------


def test_benchmark_json_matches_the_metrics_printed():
    import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert len(bench["per_layer"]) <= 128
