"""The benchmark's own tests: generator determinism, the oracle's negative
self-test and a tiny-size smoke run of each workload.

Run from the repository root: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import oracle  # noqa: E402
from perfbench.gen import LATE_MS, Ledger, Shape  # noqa: E402
from perfbench.layers import heap_after_gc_mb  # noqa: E402

SHAPE = Shape(2_000, 500, 86_400_000, 7_200_000, 300, 1.1, 0.05, 0.1)


def _ledger(root, seed, name="events", pipeline="pl_keyed_topn", **kw):
    return Ledger(str(root), seed, pipeline, name, SHAPE, **kw)


def test_generator_is_deterministic_for_a_seed(tmp_path):
    a = _ledger(tmp_path / "a", 5)
    b = _ledger(tmp_path / "b", 5)
    c = _ledger(tmp_path / "c", 6)
    for k in range(3):
        assert a.table(k)[0].equals(b.table(k)[0])
        assert not a.table(k)[0].equals(c.table(k)[0])


def test_generator_ledger_shape(tmp_path):
    led = _ledger(tmp_path, 1, unique_values=True)
    tables = [led.table(k) for k in range(4)]
    offsets = np.concatenate([t.column("offset").to_numpy() for t, _ in tables])
    assert (offsets == np.arange(len(offsets))).all()
    values = np.concatenate([t.column("value").to_numpy() for t, _ in tables])
    assert len(np.unique(values)) == len(values)
    for k, (t, n_late) in enumerate(tables):
        et = t.column("event_time").cast(pa.int64()).to_numpy()
        start, end = led.span(k)
        assert n_late == (0 if k == 0 else round(SHAPE.slice_rows * SHAPE.late_share))
        late = et < start
        assert late.sum() == n_late
        if k:
            assert (et[late] <= led.span(k - 1)[1] - 1 - LATE_MS).all()
        assert (et[~late] < end).all()
        assert (np.diff(et[~late]) < 0).any()  # out-of-order rows exist


def test_inputs_of_a_pipeline_share_keys(tmp_path):
    p = _ledger(tmp_path, 1, name="purchases", pipeline="pl_agg_asof")
    c = _ledger(tmp_path, 1, name="clicks", pipeline="pl_agg_asof", late=False)
    pk = set(p.table(0)[0].column("user_id").to_pylist())
    ck = set(c.table(0)[0].column("user_id").to_pylist())
    assert len(pk & ck) > 0.5 * min(len(pk), len(ck))
    assert c.table(1)[1] == 0


def test_distinct_key_slices_repeat_the_whole_key_space(tmp_path):
    shape = Shape(1_000, 1_000, 86_400_000, 86_400_000, 1_000, 0.0, 0.0, 0.1, distinct_keys=True)
    led = Ledger(str(tmp_path), 4, "pl_agg_asof", "purchases", shape)
    keys = [led.table(k)[0].column("user_id").to_pylist() for k in range(2)]
    assert len(set(keys[0])) == len(keys[0]) == 1_000
    assert set(keys[0]) == set(keys[1]) and keys[0] != keys[1]


def test_heap_after_gc_reads_the_largest_post_collection_occupancy(tmp_path):
    log = tmp_path / "gc.log"
    log.write_text(
        "[0.5s][info][gc] Using G1\n"
        "[1.2s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause) 100M->20M(2048M) 5.1ms\n"
        "[3.4s][info][gc] GC(1) Pause Young (Normal) (G1 Evacuation Pause) 900M->1G(2048M) 9.0ms\n"
        "[5.0s][info][gc] GC(2) Pause Young (Normal) (G1 Evacuation Pause) 1200M->300M(2048M) 7.0ms\n"
    )
    assert heap_after_gc_mb(str(log)) == 1024
    assert heap_after_gc_mb(str(tmp_path / "missing.log")) == 0


def test_oracle_rejects_a_dropped_row_or_a_flipped_op(tmp_path):
    """The oracle's own result, written as an engine output, passes; one
    dropped row or one flipped op fails."""
    led = _ledger(tmp_path / "in", 2, unique_values=True)
    sent = [{"events": led.write(k)} for k in range(2)]
    con = oracle._connect()
    oracle._register_inputs(con, sent)
    expected = con.execute(
        f"SELECT 0::INTEGER AS op, * FROM ({oracle._ORACLE_SQL['pl_keyed_topn']})"
    ).arrow()
    con.close()
    out = str(tmp_path / "out.parquet")
    pq.write_table(expected, out)
    diffs, n = oracle.mismatches("pl_keyed_topn", sent, [out], (None, "drop_row", "flip_op"))
    assert n == expected.num_rows
    assert diffs[0] == 0 and diffs[1] > 0 and diffs[2] > 0


def test_offset_check_names_broken_invocations(tmp_path):
    paths = []
    for i, (lo, hi) in enumerate([(0, 2), (3, 4), (6, 7)]):
        p = str(tmp_path / f"{i}.parquet")
        pq.write_table(pa.table({"offset": pa.array(range(lo, hi + 1), pa.int64())}), p)
        paths.append(p)
    assert oracle.offset_errors([(0, 2), (3, 4), None], paths[:2] + [None]) == []
    assert oracle.offset_errors([(0, 2), (3, 4), (6, 7)], paths) == [2]


def _bench(*args, cwd=ROOT, timeout=900):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=timeout,
    )


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.slow
@pytest.mark.parametrize("workload", ["backfill", "incremental", "cold_process"])
def test_tiny_smoke_run(workload):
    r = _bench("--workload", workload, "--seed", "3", "--seconds", "0", "--trace", "0", "--size", "tiny")
    assert r.returncode == 0, r.stderr[-3000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 3
    names = {m["name"] for m in _benchmark_json()["end_to_end"]}
    assert set(result["metrics"]) == names
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.slow
def test_tiny_traced_run_reports_every_layer():
    r = _bench("--workload", "incremental", "--seed", "3", "--seconds", "0", "--trace", "1", "--size", "tiny")
    assert r.returncode == 0, r.stderr[-3000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert result["correct"]
    names = {m["name"] for m in _benchmark_json()["per_layer"]}
    assert set(result["metrics"]) == names
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["transform.stamp_calls"] == 0
    assert m["spark.jobs"] > 0 and m["state.jobs"] > 0 and m["adapter.tar_bytes"] > 0
    assert m["jvm.heap_after_gc_mb"] > 0
    assert "per-layer, per timed invocation" in r.stdout


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    r = _bench("--workload", "backfill", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=tmp_path, timeout=120)
    assert r.returncode != 0
    assert '"correct"' not in r.stdout


def test_refuses_to_trace_engine_subprocesses():
    r = _bench("--workload", "cold_process", "--seed", "1", "--seconds", "1", "--trace", "1", timeout=120)
    assert r.returncode == 2 and "not traced" in r.stderr
    assert '"correct"' not in r.stdout
