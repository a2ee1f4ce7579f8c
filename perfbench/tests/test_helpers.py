"""Self-tests of the benchmark's Spark-free helpers.

    python3 -m pytest perfbench/tests -q
"""

import numpy as np
import pyarrow as pa
import pytest

from spans import READER_GROUP, aggregate_jobs
from stats import diff_counters, expected_state, percentile, visible_times
from ticdc_spark import oracle, testgen


# ---- percentile rule

def test_p90_needs_ten_samples_beyond_it():
    with pytest.raises(ValueError):
        percentile(range(99), 0.9)
    assert percentile(range(100), 0.9) == 89.0


def test_percentile_is_nearest_rank():
    assert percentile(range(1, 101), 0.5) == 50.0
    assert percentile(list(range(100, 0, -1)), 0.9) == 90.0


# ---- counter diff

def test_diff_counters_subtracts_and_rejects_going_backwards():
    assert diff_counters({"tasks": 4, "x": 1}, {"tasks": 10, "x": 1, "new": 2}) == {
        "tasks": 6, "x": 0, "new": 2}
    with pytest.raises(ValueError):
        diff_counters({"tasks": 5}, {"tasks": 4})


def _stage(sid, status="COMPLETE", tasks=2, run_ms=10, shuffle=100):
    return {"id": sid, "status": status, "tasks": tasks, "executor_run_ms": run_ms,
            "input_bytes": 1, "shuffle_read_bytes": 0, "shuffle_write_bytes": shuffle}


def test_aggregate_jobs_dedups_stages_and_skips_reader_and_skipped():
    rows = [
        {"id": 1, "group": None, "stages": [_stage(1), _stage(2)]},
        # a later job listing stage 2 again, plus a skipped stage
        {"id": 2, "group": None, "stages": [_stage(2), _stage(3, status="SKIPPED")]},
        {"id": 3, "group": READER_GROUP, "stages": [_stage(4, tasks=7)]},
    ]
    agg = aggregate_jobs(rows)
    assert agg["jobs"] == 2
    assert agg["tasks"] == 4 and agg["executor_run_ms"] == 20
    assert agg["shuffle_write_bytes"] == 200
    reader = aggregate_jobs(rows, group=READER_GROUP)
    assert reader["jobs"] == 1 and reader["tasks"] == 7


# ---- freshness join

def test_visible_times_joins_each_event_to_first_covering_batch():
    batches = [(10.0, 100), (11.0, 200), (12.5, 300)]
    got = visible_times([50, 100, 101, 300, 301], batches)
    assert got[:4].tolist() == [10.0, 10.0, 11.0, 12.5]
    assert np.isnan(got[4])  # never covered: counted as not visible


def test_visible_times_uses_running_frontier():
    # a batch reporting a lower frontier never un-releases an event
    got = visible_times([150, 250], [(1.0, 200), (2.0, 100), (3.0, 300)])
    assert got.tolist() == [1.0, 3.0]


def test_visible_times_without_batches():
    assert np.isnan(visible_times([1, 2], [])).all()


# ---- oracle check

def _binlog(seed):
    tbl = testgen.generate_binlog(testgen.BinlogSpec(
        n_events=3_000, n_keys=300, seed=seed, hot_frac=0.2, hot_keys=5, n_parts=4,
    ))
    beat = pa.table({
        "commit_ts": pa.array([tbl.column("commit_ts")[0].as_py()] * 2, pa.int64()),
        "seq": pa.array([0, 0], pa.int64()),
        "table": pa.array(["target_tokens"] * 2),
        "op": pa.array(["R"] * 2),
        "doc_id": pa.array(["", ""]),
        "tokens": pa.array([None, None], pa.list_(pa.int32())),
        "n_tok": pa.array([None, None], pa.int32()),
        "source": pa.array([None, None], pa.string()),
        "part": pa.array([0, 1], pa.int32()),
        "schema_version": pa.array([0, 0], pa.int32()),
    })
    return pa.concat_tables([tbl.cast(beat.schema), beat])


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_expected_state_equals_sequential_oracle(seed):
    binlog = _binlog(seed)
    ts = binlog.column("commit_ts").to_numpy()
    upto = int(np.quantile(ts, 0.7))
    for cut in (None, upto):
        want = oracle.apply_binlog(binlog, upto_ts=cut)
        got = expected_state(binlog, upto_ts=cut)
        assert oracle.diff_tables(want, got) == []


def test_gate_fails_on_corrupted_output():
    expected = expected_state(_binlog(4))
    assert oracle.diff_tables(expected, expected) == []
    toks = expected.column("tokens").to_pylist()
    toks[7] = list(toks[7] or []) + [1]
    corrupted = expected.set_column(1, "tokens", pa.array(toks, pa.list_(pa.int32())))
    assert oracle.diff_tables(expected, corrupted)
    assert oracle.diff_tables(expected, expected.slice(1))  # a lost row

