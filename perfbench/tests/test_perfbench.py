"""Self-tests of the benchmark harness.  They need no Spark session:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import pickle
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH_DIR = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH_DIR))

import harness  # noqa: E402
import layerdiff  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

BENCHMARK = json.loads((BENCH_DIR.parent / "BENCHMARK.json").read_text())


def fake_window(ops, fail=(), seed=0, seconds=0.0):
    """A window over fake ops on a clock that advances 0.25 s per reading."""
    now = [0.0]

    def clock() -> float:
        now[0] += 0.25
        return now[0]

    def run_op(name: str, _pass: int) -> None:
        if name in fail:
            raise RuntimeError(f"{name} failed")

    return harness.run_window(list(ops), run_op, seed, seconds, clock=clock)


def test_benchmark_json_names_the_harness_metrics():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == harness.PER_LAYER


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_every_record_carries_every_end_to_end_metric(workload):
    w = fake_window(workloads.OPS[workload])
    e2e, _, _, _ = harness.window_metrics(w, 12.0, set())
    fields, metrics = harness.metric_fields(e2e, None)
    assert {k: v["unit"] for k, v in fields["end_to_end"].items()} == harness.END_TO_END
    assert metrics == fields["end_to_end"]
    assert all(v["value"] > 0 for v in metrics.values())


def test_op_sets_are_drawn_from_their_pools():
    sys.path.insert(0, str(BENCH_DIR.parent))
    from contentwise_impressions_spark.plans import registry

    queries = registry.bench_queries()
    families = registry.bench_query_families()
    oracles = registry.all_oracle_sql()
    pools = {w: workloads.select_pool(w, queries, families, oracles) for w in workloads.WORKLOADS}
    assert {w: len(p) for w, p in pools.items()} == {
        "analyst_queries": 54,
        "recsys_experiment": 42,
    }
    for workload, ops in workloads.OPS.items():
        assert len(set(ops)) == len(ops) > 1, workload
        assert set(ops) <= set(pools[workload]), workload
        assert all(n in oracles for n in ops), workload
    bench_warmups = registry.bench_warmups()
    assert all(k in bench_warmups for keys in workloads.WARMUPS.values() for k in keys)


def test_same_seed_same_order_other_seed_other_order():
    ops = workloads.OPS["analyst_queries"]
    first = [s.op for s in fake_window(ops, seed=7).samples]
    assert first == [s.op for s in fake_window(ops, seed=7).samples]
    assert first != [s.op for s in fake_window(ops, seed=8).samples]
    assert sorted(first) == sorted(ops)
    assert workloads.pass_order(ops, 7, 0) != workloads.pass_order(ops, 7, 1)


def test_window_runs_whole_passes():
    w = fake_window(["a", "b", "c"], seconds=2.0)
    assert w.passes >= 2
    assert len(w.samples) == 3 * w.passes
    assert w.seconds >= 2.0


def test_latency_sample_count_is_stated():
    w = fake_window(["a", "b", "c"], seconds=2.0)
    _, lat, attempted, _ = harness.window_metrics(w, 1.0, set())
    assert lat["samples"] == len(w.samples) == attempted
    assert lat["p90_supported"] is False
    assert harness.latency_summary([1.0] * 100)["p90_supported"] is True


def test_traced_and_untraced_records_emit_the_same_end_to_end_names():
    e2e, _, _, _ = harness.window_metrics(fake_window(["a", "b"]), 1.0, set())
    plain, plain_metrics = harness.metric_fields(e2e, None)
    traced, traced_metrics = harness.metric_fields(e2e, dict.fromkeys(harness.PER_LAYER, 1.0))
    assert plain["end_to_end"].keys() == traced["end_to_end"].keys() == harness.END_TO_END.keys()
    assert plain_metrics.keys() == harness.END_TO_END.keys()
    assert traced_metrics.keys() == harness.PER_LAYER.keys()


def test_raising_op_is_counted_failed_and_the_run_goes_on():
    w = fake_window(["a", "b", "c"], fail={"b"}, seconds=2.0)
    assert [s.op for s in w.samples].count("c") == w.passes >= 2
    e2e, lat, attempted, failed = harness.window_metrics(w, 1.0, set())
    assert (attempted, failed) == (3 * w.passes, w.passes)
    assert lat["samples"] == attempted - failed
    line = harness.result_line(set(), attempted, failed, e2e)
    assert line["failed"] == failed
    assert line["correct"] is False


def test_op_raising_only_in_the_window_makes_the_run_incorrect():
    """An op that raises once in the window, while its collected result
    matches the oracle (no mismatch), still makes the run incorrect."""
    calls = []

    def run_op(name: str, _pass: int) -> None:
        calls.append(name)
        if calls.count("b") == 1 and name == "b":
            raise RuntimeError("b failed once")

    ticks = iter(range(1, 100))
    w = harness.run_window(["a", "b"], run_op, 0, 0.0, clock=lambda: float(next(ticks)))
    e2e, _, attempted, failed = harness.window_metrics(w, 1.0, set())
    assert (attempted, failed) == (2, 1)
    assert harness.result_line(set(), attempted, failed, e2e)["correct"] is False
    ok = harness.window_metrics(fake_window(["a", "b"]), 1.0, set())
    assert harness.result_line(set(), ok[2], ok[3], ok[0])["correct"] is True


def test_oracle_mismatch_fails_every_sample_of_the_op():
    w = fake_window(["a", "b"], seconds=1.0)
    e2e, lat, attempted, failed = harness.window_metrics(w, 1.0, {"a"})
    assert failed == attempted // 2
    assert lat["samples"] == attempted - failed
    assert harness.result_line({"a"}, attempted, failed, e2e)["correct"] is False


def test_traced_function_pickles_as_the_original():
    traced = spans._Traced(spans.Tracer(), layerdiff.diff_rows, "x.diff_rows", "x")
    assert pickle.loads(pickle.dumps(traced)) is layerdiff.diff_rows


def test_self_time_excludes_child_spans():
    tracer = spans.Tracer()
    tracer.enabled = True
    with tracer.span("outer", "operators"):
        with tracer.span("inner", "sources"):
            pass
    inner, outer = tracer.spans
    st = spans.self_times(tracer.spans)
    assert inner.parent == outer.sid
    assert st[outer.sid] == pytest.approx((outer.end - outer.start) - (inner.end - inner.start))
    assert spans.union_seconds([(0, 2), (1, 3), (5, 6)]) == 4


def test_layerdiff_prints_each_change_with_its_base(tmp_path):
    def record(v):
        return {"workload": "analyst_queries", "seed": 1, "per_layer": {"engine.jobs": {"value": v, "unit": "1/op"}}}

    (tmp_path / "a.json").write_text(json.dumps(record(4.0)))
    (tmp_path / "b.json").write_text("noise\n" + json.dumps(record(5.0)) + "\n")
    base = layerdiff.load_records(str(tmp_path / "a.json"))
    new = layerdiff.load_records(str(tmp_path / "b.json"))
    assert layerdiff.diff_rows(base["analyst_queries"], new["analyst_queries"]) == [
        ("engine.jobs", "1/op", 4.0, 5.0, 1.0, 0.25)
    ]
    assert "+25.0%" in layerdiff.render(base, new)


def test_run_refuses_a_directory_without_the_engine(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("tests", "__pycache__"))
    shutil.copy(BENCH_DIR.parent / "BENCHMARK.json", tmp_path)
    args = ["--workload", "analyst_queries", "--seed", "1", "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


def _git(cwd, *args):
    subprocess.run(
        ["git", "-c", "user.name=t", "-c", "user.email=t@t", *args],
        cwd=cwd,
        check=True,
        capture_output=True,
    )


def test_commit_stamp_reads_packed_refs(tmp_path):
    import run

    _git(tmp_path, "init", "-q")
    (tmp_path / "f").write_text("x\n")
    _git(tmp_path, "add", "f")
    _git(tmp_path, "commit", "-q", "-m", "c")
    _git(tmp_path, "pack-refs", "--all", "--prune")
    head = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=tmp_path, capture_output=True, text=True
    ).stdout.strip()
    assert len(head) == 40
    assert run._commit(tmp_path) == head
    (tmp_path / "exported").mkdir()
    assert run._commit(tmp_path / "exported") is None  # no .git there


def test_oracle_check_lists_mismatches_by_query_name(tmp_path):
    import datagen
    import pandas as pd
    from verify import check_results

    datagen.generate(str(tmp_path), 0.0001)
    n = datagen.table_sizes(0.0001)["events"]
    oracles = {
        "good": "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events",
        "bad": "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events",
    }
    results = {"good": pd.DataFrame({"n": [n]}), "bad": pd.DataFrame({"n": [n + 1]})}
    assert set(check_results(BENCH_DIR.parent, str(tmp_path), results, oracles)) == {"bad"}
