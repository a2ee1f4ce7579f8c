"""Round-5 ADVICE + verdict fixes, pinned.

- syncdiff array canonicalization is element-unambiguous: ['a,b'] vs
  ['a','b'] and ['a',NULL] vs ['a'] serialize distinctly
- MultiTableChangeFeed.add_table turns key blooms on under mq_old_value
  (moved-in/adopted tables kept committing bloom-less files)
- attach_old_images routes cross-batch pre-images through the shared lag
  window (pseudo-events at -2^62): first-in-batch events see the snapshot
  image, true inserts see none, in-batch chains unchanged — including for
  events at commit_ts 0

The read_version_for_keys fixes (non-key bucketing, pruning telemetry) live
in tests/test_key_blooms.py.
"""

import os

import pytest
from pyspark.sql import functions as F

from ticdc_spark.lake.table import LakeTable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _events(spark, n, ts0=1, op="I"):
    return spark.range(n).select(
        F.concat(F.lit("k"), F.col("id")).alias("doc_id"),
        F.lit(op).alias("op"),
        (F.col("id") + ts0).cast("long").alias("commit_ts"),
        F.col("id").cast("long").alias("seq"),
        (F.col("id") % 97).cast("long").alias("n_tok"),
        F.concat(F.lit("s"), F.col("id") % 5).alias("source"),
    )


FIELDS = [
    {"id": 1, "name": "doc_id", "type": "string", "nullable": False},
    {"id": 2, "name": "n_tok", "type": "long"},
    {"id": 3, "name": "source", "type": "string"},
]


def test_syncdiff_array_canonicalization_unambiguous(spark, tmp_path):
    import importlib
    import sys

    sys.path.insert(0, os.path.join(REPO, "jobs"))
    run_syncdiff = importlib.import_module("run_syncdiff")

    fields = [
        {"id": 1, "name": "doc_id", "type": "string", "nullable": False},
        {"id": 2, "name": "tags", "type": "array<string>"},
    ]
    t = LakeTable.create(spark, str(tmp_path / "arr"), fields=fields, n_buckets=2)
    cols = run_syncdiff._canonical_cols(t)
    df = spark.createDataFrame(
        [
            ("r1", ["a,b"]),
            ("r2", ["a", "b"]),
            ("r3", ["a", None]),
            ("r4", ["a"]),
            ("r5", None),
            ("r6", []),
            ("r7", ["\\N"]),
        ],
        "doc_id string, tags array<string>",
    )
    rows = {r["doc_id"]: r["c"] for r in df.select(
        "doc_id", F.concat_ws("|", *cols).alias("c")
    ).collect()}
    assert len(set(rows.values())) == 7, rows


def test_add_table_sets_key_blooms_under_mq_old_value(spark, tmp_path):
    from ticdc_spark.streaming.multi import MultiTableChangeFeed

    binlog = str(tmp_path / "binlog")
    os.makedirs(binlog)
    ta = LakeTable.create(spark, str(tmp_path / "ta"), fields=FIELDS, n_buckets=2)
    cf = MultiTableChangeFeed(
        {"ta": ta},
        binlog,
        str(tmp_path / "ck"),
        mq_dir=str(tmp_path / "mq"),
        mq_protocol="open",
        mq_old_value=True,
    )
    tb = LakeTable.create(spark, str(tmp_path / "tb"), fields=FIELDS, n_buckets=2)
    assert not tb._manifest.get("key_blooms")
    cf.add_table("tb", tb, boundary_ts=0)
    assert tb._manifest.get("key_blooms") is True


def test_attach_old_images_window_union(spark, tmp_path):
    from ticdc_spark.streaming.changefeed import attach_old_images

    t = LakeTable.create(spark, str(tmp_path / "ov"), fields=FIELDS, n_buckets=4)
    snap = _events(spark, 6)  # k0..k5 with n_tok = id % 97
    t.merge_epoch(snap, "base")
    pre_version = t.version
    # batch: update k1 twice (chain), update k2 once, insert brand-new k9,
    # and an event at commit_ts ZERO exercises the sentinel ordering
    batch = spark.createDataFrame(
        [
            ("k1", "U", 100, 1, 50, "sA"),
            ("k1", "U", 101, 2, 51, "sB"),
            ("k2", "U", 100, 3, 60, "sC"),
            ("k9", "I", 100, 4, 70, "sD"),
            ("k3", "U", 0, 5, 80, "sE"),
        ],
        "doc_id string, op string, commit_ts long, seq long, n_tok long, source string",
    )
    out = {
        (r["doc_id"], r["commit_ts"]): r
        for r in attach_old_images(t, batch, pre_version, n_events=5).collect()
    }
    # first k1 event: image from the snapshot (n_tok = 1 % 97 = 1)
    assert out[("k1", 100)]["had_old"] and out[("k1", 100)]["old_n_tok"] == 1
    # second k1 event: in-batch chain from the first
    assert out[("k1", 101)]["had_old"] and out[("k1", 101)]["old_n_tok"] == 50
    assert out[("k2", 100)]["old_n_tok"] == 2
    # true insert: no image
    assert not out[("k9", 100)]["had_old"] and out[("k9", 100)]["old_n_tok"] is None
    # commit_ts=0 still sorts ABOVE the snapshot pseudo-event
    assert out[("k3", 0)]["had_old"] and out[("k3", 0)]["old_n_tok"] == 3
    # no pseudo-rows leak into the output
    assert len(out) == 5
