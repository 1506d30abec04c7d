"""Self-tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs every workload at sf0.001 in a subprocess, traced and
untraced, and checks the output line's schema against BENCHMARK.json.
The rest check span self-time arithmetic on a synthetic trace, that the
result-hash check catches a wrong hash, and that the etl_refresh DuckDB
replay agrees with ``txn_read`` on a small table and catches a commit it
did not replay.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_output_schema(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in out["metrics"].items()
    }
    for name, m in out["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
        if not trace:
            assert m["value"] > 0, name
    detail = json.loads(proc.stdout.strip().splitlines()[-2])["detail"]
    if trace:
        assert all(v for k, v in detail["layer_checks"].items() if k.endswith("_ok"))


def _span(i, parent, start, end, name="s"):
    return spans.Span(id=i, name=name, parent=parent, op="", start=start, end=end)


def test_self_times_subtract_the_union_of_children():
    trace = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 5.0),  # overlaps span 1: union is [1, 5]
        _span(3, 0, 8.0, 12.0),  # runs past its parent: clipped to [8, 10]
        _span(4, 1, 1.5, 2.0),
    ]
    st = spans.self_times(trace)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(0.5)


def test_span_coverage_counts_only_leaf_time():
    trace = [
        _span(0, None, 0.0, 10.0, "pass"),
        _span(1, 0, 0.0, 9.0, "query"),
        _span(2, 1, 0.0, 6.0, "plans.build"),
        _span(3, 1, 6.0, 8.5, "execute.write"),
    ]
    m = spans.pass_layers(trace, {}, trace[0])
    assert m["plans.build_s"] == pytest.approx(6.0)
    assert m["execute.exec_s"] == pytest.approx(2.5)
    assert m["trace.span_coverage"] == pytest.approx(0.85)


@pytest.fixture(scope="module")
def tiny_dir():
    return datagen.ensure_tables(os.path.join(run.WORK, "data"), 0.001)


def test_hash_check_catches_a_wrong_hash(tiny_dir):
    import workloads as wl

    expected = json.load(open(os.path.join(HERE, "expected_hashes.json")))["sf0.001"]
    w = wl.QueryWorkload(wl.LLM_CORPUS, tiny_dir, tiny_dir, expected, traced=False)
    w.hashes = dict(expected)
    ops = wl.Ops()
    w.verify(None, ops)
    assert ops.failed == []
    w.hashes["udf_parse_markup"] = "0" * 32
    w.verify(None, ops)
    assert ops.failed == ["check:udf_parse_markup"]


@pytest.fixture(scope="module")
def spark():
    run.pin_environment(traced=False)
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    from imdb_top_250_etl_pipeline_spark.session import get_spark

    s = get_spark("perfbench-selftest")
    yield s
    run.stop_jvm(s)


def test_etl_replay_agrees_with_txn_read(spark, tiny_dir, tmp_path):
    import workloads as wl
    from imdb_top_250_etl_pipeline_spark.sources import txn

    cycles = datagen.write_etl_cycles(str(tmp_path / "batches"), 3, 1500, 2, 50)
    w = wl.EtlRefresh(tiny_dir, tiny_dir, str(tmp_path), cycles, traced=False)
    tr = spans.Tracer()
    w.setup(spark, tr)
    ops = wl.Ops()
    for p in range(2):
        w.run_pass(spark, tr, p, ops, check=False)
    report = w.verify(spark, ops)
    assert ops.failed == [] and report["final_table"] and report["reads_checked"] == 6
    # a commit the replay does not know about must be caught
    from pyspark.sql import functions as F

    rogue = wl.read_batch(spark, cycles[0]["merges"][0]).limit(5)
    rogue = rogue.withColumn("o_totalprice", F.lit(1.0))
    txn.txn_merge(spark, w.table, rogue, wl.UPDATE_COLS, wl.STABLE_COLS)
    ops = wl.Ops()
    report = w.verify(spark, ops)
    assert report["final_table"] is False and ops.failed == ["check:final table"]
