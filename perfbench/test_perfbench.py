"""Tests of the benchmark's output check, inputs and report.

Run from the repository root: ``python -m pytest perfbench -q``.
"""

import io
import json
import os
import shutil
import subprocess
import sys
from contextlib import redirect_stdout

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import check, corpus, run

ROOT = run.ROOT
TIE_HI = 0.5908872180454756
TIE_LO = 0.5908872180454755  # one ulp below: the engine's float noise


def _ranking(*pairs):
    return [(u, s) for u, s in pairs]


def test_one_ulp_tie_swap_is_accepted_and_counted():
    expected = _ranking(("a", 0.9), ("b", TIE_HI), ("c", TIE_LO), ("d", 0.1))
    actual = _ranking(("a", 0.9), ("c", TIE_LO), ("b", TIE_HI), ("d", 0.1))
    v = check.compare_ranking(expected, actual, k=10)
    assert v.ok and v.tie_reorders == 1


def test_tie_across_the_rank_k_cut_is_a_set_comparison():
    expected = _ranking(("a", 0.9), ("b", 0.5), ("c", 0.5))
    v = check.compare_ranking(expected, _ranking(("a", 0.9), ("c", 0.5)), k=2)
    assert v.ok and v.tie_reorders == 1
    v = check.compare_ranking(expected, _ranking(("a", 0.9), ("b", 0.5)), k=2)
    assert v.ok and v.tie_reorders == 0


def test_real_misorder_is_rejected():
    expected = _ranking(("a", 0.9), ("b", 0.8))
    actual = _ranking(("b", 0.9), ("a", 0.8))
    assert not check.compare_ranking(expected, actual, k=10).ok


def test_missing_doc_is_rejected():
    expected = _ranking(("a", 0.9), ("b", 0.8))
    assert not check.compare_ranking(expected, _ranking(("a", 0.9)), 10).ok
    # a doc outside the tie group in its place
    expected = _ranking(("a", 0.9), ("b", 0.5), ("c", 0.5))
    actual = _ranking(("a", 0.9), ("x", 0.5), ("c", 0.5))
    assert not check.compare_ranking(expected, actual, k=10).ok


def test_score_off_by_more_than_tolerance_is_rejected():
    expected = _ranking(("a", 0.9))
    assert not check.compare_ranking(
        expected, _ranking(("a", 0.9 + 2e-9)), k=10).ok
    assert check.compare_ranking(
        expected, _ranking(("a", 0.9 + 5e-10)), k=10).ok


def test_compare_batch_groups_rows_by_qid():
    expected = {1: _ranking(("a", 0.9), ("b", 0.8)), 2: []}
    rows = [{"qid": 1, "rank": 2, "url": "b", "score": 0.8},
            {"qid": 1, "rank": 1, "url": "a", "score": 0.9}]
    assert check.compare_batch(expected, rows, k=10).ok
    assert not check.compare_batch(expected, rows[:1], k=10).ok
    extra = rows + [{"qid": 7, "rank": 1, "url": "z", "score": 0.1}]
    assert not check.compare_batch(expected, extra, k=10).ok


def test_seed_42_reproduces_the_fixture_corpus(tmp_path):
    from search_engine_spark.sources import fixtures

    shape = corpus.Shape(base_docs=60, increment_docs=6)
    corpus.write_corpus(shape, 42, str(tmp_path / "base.parquet"),
                        str(tmp_path / "inc"))
    written = pq.read_table(str(tmp_path / "base.parquet")).to_batches() \
        + pq.read_table(str(tmp_path / "inc" / "pages.parquet")).to_batches()
    got = pa.Table.from_batches(written)
    assert got.equals(fixtures.generate_web_pages(66))
    assert fixtures.SEED == 42  # restored

    _, rows_1 = corpus.write_corpus(shape, 1, str(tmp_path / "b1.parquet"),
                                    str(tmp_path / "inc1"))
    assert [r[2] for r in rows_1] != got["text"].to_pylist()


def test_query_batch_is_seeded_and_stratified():
    term_df = {f"t{i}": max(1, 500 // (i + 1)) for i in range(400)}
    a = corpus.query_batch(term_df, 7)
    assert a == corpus.query_batch(term_df, 7)
    assert a != corpus.query_batch(term_df, 8)
    assert len(a) == corpus.QUERIES_PER_BATCH
    assert [q for q, _ in a] == list(range(1, len(a) + 1))
    words = [w for _, text in a for w in text.split()]
    assert any(w.startswith("zq") for w in words)          # unknown
    assert any(term_df.get(w, 99) <= 3 for w in words)     # rare
    assert any(w in ("t0", "t1", "t2") for w in words)     # head


@pytest.mark.parametrize("n,pct", [(1, 100), (10, 100), (11, 9), (20, 50),
                                   (100, 90), (1000, 99)])
def test_tail_percentile_leaves_ten_samples_beyond(n, pct):
    assert run.tail_percentile(n) == pct


def test_benchmark_json_matches_the_metrics_the_command_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == run.PER_LAYER


@pytest.mark.parametrize("traced", [False, True])
def test_report_prints_every_metric_with_its_unit(tmp_path, traced):
    bench = run.Bench("fixture", 42, 10, traced)
    bench.out = str(tmp_path / "out" / bench.run_id)
    os.makedirs(bench.out)
    bench.timed_s = 12.5
    bench.attempted = 12
    e2e = {n: 1.5 for n in run.END_TO_END}
    layer = {n: 2.5 for n in run.PER_LAYER}
    buf = io.StringIO()
    with redirect_stdout(buf):
        bench.report({"before": {}}, e2e, layer if traced else None)
    lines = buf.getvalue().splitlines()
    names = dict(run.END_TO_END, **(run.PER_LAYER if traced else {}))
    for name, unit in names.items():
        assert f"  {name} = " in buf.getvalue()
        assert any(ln.startswith(f"  {name} = ") and ln.endswith(f" {unit}")
                   for ln in lines), name
    assert "error_rate" in buf.getvalue()
    for mode in run.MODES:
        assert f"  {mode}_batch_ms_tail = " in buf.getvalue()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = run.PER_LAYER if traced else run.END_TO_END
    assert {n: m["unit"] for n, m in result["metrics"].items()} == want


def test_exits_nonzero_without_the_engine(tmp_path):
    """A directory holding only the benchmark fails fast, printing no
    result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "out",
                                                  "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "fixture",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_spark_jobs_are_attributed_to_spans_and_derived_phases():
    from perfbench import trace

    t = trace.Tracer("r")
    op = trace.Span("r.1", "build_index", None, "r", "timed", 100.0, 110.0)
    t.spans.append(op)
    trace.derive_sequence(t, op, 100.0, [("parse", 4.0), ("postings", 6.0)])

    def job(i, group, submit, end, stage):
        return [{"Event": "SparkListenerJobStart", "Job ID": i,
                 "Submission Time": submit * 1000, "Stage IDs": [stage],
                 "Properties": {"spark.jobGroup.id": group}},
                {"Event": "SparkListenerJobEnd", "Job ID": i,
                 "Completion Time": end * 1000}]

    def task(stage, run_ms, shuffle=0, output=0, reason="Success"):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task End Reason": {"Reason": reason},
                "Task Metrics": {
                    "Executor Run Time": run_ms,
                    "Shuffle Write Metrics": {
                        "Shuffle Bytes Written": shuffle},
                    "Output Metrics": {"Bytes Written": output}}}

    events = (job(0, "r.1", 101, 103, 0) + job(1, "r.1", 105, 108, 1)
              + job(2, "other", 101, 109, 2)
              + [task(0, 1000), task(0, 3000, output=5),
                 task(1, 2000, shuffle=7), task(2, 500, reason="Killed")])
    at = trace.Attribution(t, trace.EventLog(events))
    parse, post = t.spans[1], t.spans[2]
    assert [j.id for j in at.jobs(op)] == [0, 1]
    assert [j.id for j in at.jobs(parse)] == [0]
    assert sum(x.shuffle_write for x in at.tasks(post)) == 7
    assert trace.task_skew(at.tasks(parse)) == 1.5
    assert at.driver_gap(op) == 10.0 - 5.0
    assert at.write_wall(op) == 2.0
