"""End-to-end batch replay vs oracle (the check_sync_diff analog) +
resume-from-crash idempotence (tests/availability analog)."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ticdc_spark.engine.replay import open_binlog, replay_binlog
from ticdc_spark.operators.epochs import resolved_frontier
from ticdc_spark.lake.table import LakeTable
from ticdc_spark.oracle import apply_binlog, diff_tables
from ticdc_spark.testgen import BinlogSpec, write_binlog


def _lake_arrow(table) -> pa.Table:
    pdf = table.read().toPandas().sort_values("doc_id").reset_index(drop=True)
    return pa.table(
        {
            "doc_id": pa.array(pdf["doc_id"], pa.string()),
            "tokens": pa.array([list(t) for t in pdf["tokens"]], pa.list_(pa.int32())),
            "n_tok": pa.array(pdf["n_tok"], pa.int32()),
            "source": pa.array(pdf["source"], pa.string()),
        }
    )


@pytest.mark.parametrize(
    "spec,n_epochs",
    [
        (BinlogSpec(n_events=20_000, n_keys=2_000, seed=11), 1),
        (BinlogSpec(n_events=20_000, n_keys=2_000, seed=12, tie_frac=0.5, dup_seq_tie_frac=0.3), 5),
        (BinlogSpec(n_events=20_000, n_keys=3_000, seed=13, hot_frac=0.5, hot_keys=30, p_delete=0.2, p_insert=0.5), 7),
    ],
    ids=["single-epoch", "ties-5ep", "skew-7ep"],
)
def test_replay_matches_oracle(spark, tmp_path, spec, n_epochs):
    path = write_binlog(spec, str(tmp_path / "binlog"))
    events = open_binlog(spark, path)
    t = LakeTable.create(spark, str(tmp_path / "tbl"), n_buckets=8)
    stats = replay_binlog(t, events, n_epochs=n_epochs)
    assert all(s["committed"] for s in stats)
    expected = apply_binlog(pq.read_table(path), upto_ts=resolved_frontier(events))
    problems = diff_tables(expected, _lake_arrow(t))
    assert not problems, problems[:3]


def test_resume_after_crash(spark, tmp_path):
    """Kill after epoch 2 of 6, restart the whole replay: already-committed
    epochs are skipped (idempotent), final state matches oracle
    (changefeed_reconstruct analog)."""
    spec = BinlogSpec(n_events=15_000, n_keys=1_500, seed=21, p_delete=0.15, p_insert=0.55)
    path = write_binlog(spec, str(tmp_path / "binlog"))
    events = open_binlog(spark, path)
    t = LakeTable.create(spark, str(tmp_path / "tbl"), n_buckets=8)
    stats = replay_binlog(t, events, n_epochs=6, stop_after_epoch=1)
    assert len(stats) == 2  # "crash" after two epochs
    # restart: rerun the full plan — epochs 0-1 must be no-ops
    t2 = LakeTable(spark, str(tmp_path / "tbl"))
    stats2 = replay_binlog(t2, events, n_epochs=6)
    assert [s["committed"] for s in stats2[:2]] == [False, False]
    assert all(s["committed"] for s in stats2[2:])
    expected = apply_binlog(pq.read_table(path), upto_ts=resolved_frontier(events))
    problems = diff_tables(expected, _lake_arrow(t2))
    assert not problems, problems[:3]


def test_replay_partial_then_full_epochs_idempotent(spark, tmp_path):
    """Same events delivered twice under different epoch ids (at-least-once
    upstream): conditional merge keeps state correct."""
    spec = BinlogSpec(n_events=5_000, n_keys=500, seed=22)
    path = write_binlog(spec, str(tmp_path / "binlog"))
    events = open_binlog(spark, path)
    t = LakeTable.create(spark, str(tmp_path / "tbl"), n_buckets=8)
    replay_binlog(t, events, n_epochs=3, epoch_prefix="first")
    replay_binlog(t, events, n_epochs=2, epoch_prefix="second")  # full redelivery
    expected = apply_binlog(pq.read_table(path), upto_ts=resolved_frontier(events))
    problems = diff_tables(expected, _lake_arrow(t))
    assert not problems, problems[:3]


@pytest.mark.parametrize("collapse", ["bucket_window", "agg"])
def test_replay_collapse_strategies_match_oracle(spark, tmp_path, collapse):
    """Both engine LWW collapse strategies (engine.replay.COLLAPSE) drive
    replay to the identical oracle state — bucket_window is the fused
    single-shuffle default, agg the skew alternative. The other operators/
    lww.py variants' equivalence is property-tested in test_lww.py."""
    spec = BinlogSpec(
        n_events=12_000, n_keys=1_200, seed=31,
        tie_frac=0.4, dup_seq_tie_frac=0.2, p_delete=0.15, p_insert=0.55,
    )
    path = write_binlog(spec, str(tmp_path / "binlog"))
    events = open_binlog(spark, path)
    t = LakeTable.create(spark, str(tmp_path / "tbl"), n_buckets=8)
    stats = replay_binlog(t, events, n_epochs=3, collapse=collapse)
    assert all(s["committed"] for s in stats)
    expected = apply_binlog(pq.read_table(path), upto_ts=resolved_frontier(events))
    problems = diff_tables(expected, _lake_arrow(t))
    assert not problems, problems[:3]


def test_bucket_window_collapse_single_exchange(spark, tmp_path):
    """The fused plan's contract: lww_collapse_prearranged produces winners
    with exactly ONE Exchange (the bucket repartition) — the window rank
    reuses HashPartitioning(_bucket), and merge_epoch(prearranged=True)
    writes it with no further exchange or sort."""
    from pyspark.sql import functions as F

    from ticdc_spark.operators.lww import lww_collapse_prearranged

    spec = BinlogSpec(n_events=2_000, n_keys=300, seed=32)
    path = write_binlog(spec, str(tmp_path / "binlog"))
    events = open_binlog(spark, path)
    t = LakeTable.create(spark, str(tmp_path / "tbl"), n_buckets=8)
    ev = events.select("doc_id", "op", "commit_ts", "seq", "tokens", "n_tok", "source")
    winners = lww_collapse_prearranged(
        ev, t._bucket_expr(t.bucket_col), t.n_buckets, ["doc_id"]
    )
    plan = winners._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    # and the prearranged merge accepts it (contract holds end-to-end)
    st = t.merge_epoch(winners, "fused-e0", assume_deduped=True, prearranged=True)
    assert st["committed"]


def test_prearranged_merge_guards(spark, tmp_path):
    """prearranged=True is only valid for key-bucketed MOR tables with an
    explicit _bucket column — violations fail loudly, not silently."""
    from ticdc_spark.operators.lww import lww_latest_agg

    spec = BinlogSpec(n_events=500, n_keys=100, seed=33)
    path = write_binlog(spec, str(tmp_path / "binlog"))
    events = open_binlog(spark, path)
    ev = events.select("doc_id", "op", "commit_ts", "seq", "tokens", "n_tok", "source")
    winners = lww_latest_agg(ev, ["doc_id"])  # no _bucket column
    t = LakeTable.create(spark, str(tmp_path / "tbl"), n_buckets=4)
    with pytest.raises(ValueError, match="_bucket column"):
        t.merge_epoch(winners, "g0", assume_deduped=True, prearranged=True)
    with pytest.raises(ValueError, match="assume_deduped"):
        t.merge_epoch(winners, "g1", prearranged=True)
