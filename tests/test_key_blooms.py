"""Key-bloom sidecars + the key-pruned pre-image read path.

The enable-old-value cross-batch read (streaming/changefeed.attach_old_images)
is adaptive: bulk batches keep the r3 bucket-pruned read; sparse batches take
read_version_for_keys — the batch's keys collected once to the driver as
Arrow, per-file [min,max]+bloom pruning probed there (probe_files), then a
semi-join before the LWW collapse. These tests pin (a) the bloom primitive's
no-false-negative contract, (b) the probe against a per-key reference loop,
with no SparkSession, (c) read-path equivalence with read_version_raw,
including non-key bucketing, (d) that pruning actually skips files a sparse
key set cannot touch, (e) the sparse old-value batch's Spark job budget, and
(f) end-to-end old-value correctness through a sparse second batch.

Reference parity: TiCDC receives old values from TiKV with the write
(cdc/entry/mounter.go row decode carries PreColumns when enable-old-value);
the lake-side reconstruction must behave identically whichever read path the
gate picks.
"""

import base64

from pyspark.sql import functions as F

from ticdc_spark.lake.table import (
    PREIMAGE_STATS_KEEP,
    LakeTable,
    bloom_may_contain,
    build_key_bloom,
    probe_files,
)
from ticdc_spark.model import BINLOG_SCHEMA


def _events(spark, rows):
    return spark.createDataFrame(rows, schema=BINLOG_SCHEMA)


def test_bloom_no_false_negatives_and_some_negatives():
    keys = [f"doc-{i:05d}" for i in range(2000)]
    bits, m, k = build_key_bloom(keys)
    for key in keys[::37]:
        assert bloom_may_contain(bits, m, k, key)
    absent = [f"other-{i:05d}" for i in range(500)]
    fp = sum(bloom_may_contain(bits, m, k, a) for a in absent)
    assert fp < 50  # ~0.8% design point; 10% is already a broken hash


def _entry(keys, stats=True, bloom=True):
    """A manifest entry for a file holding `keys`."""
    e = {"path": "f.parquet", "rows": len(keys)}
    if stats:
        e["min_key"], e["max_key"] = min(keys), max(keys)
    if bloom:
        bits, m, k = build_key_bloom(keys)
        e["bloom"] = {"m": m, "k": k, "b64": base64.b64encode(bits).decode("ascii")}
    return e


def _probe_reference(keys, buckets, metas):
    """Per-key loop form of probe_files: the reference it must equal."""
    kept = []
    for i, (g, e) in enumerate(metas):
        lo, hi, bl = e.get("min_key"), e.get("max_key"), e.get("bloom")
        for key, b in zip(keys, buckets):
            if b != g or (lo is not None and hi is not None and not lo <= key <= hi):
                continue
            if bl is None or bloom_may_contain(base64.b64decode(bl["b64"]), bl["m"], bl["k"], key):
                kept.append(i)
                break
    return kept


def _held(files):
    return [(g, _entry(ks, stats, bloom)) for g, ks, stats, bloom in files]


def test_probe_files_keeps_every_holder_across_file_kinds():
    # per group: bloomed, unbloomed and stat-less files, with overlapping
    # key ranges so only the bloom can tell them apart
    files = []
    for g in range(3):
        for j in range(4):
            ks = [f"g{g}-k{i:04d}" for i in range(j, 400, 4)]
            files.append((g, ks, j != 3, j < 2))
    metas = _held(files)
    keys = [f"g{g}-k{i:04d}" for g in range(3) for i in range(0, 400, 13)] + ["g1-zz"]
    buckets = [int(k[1]) for k in keys]
    kept = probe_files(keys, buckets, metas)
    assert kept == _probe_reference(keys, buckets, metas)
    for i, (g, ks, _, _) in enumerate(files):
        if any(b == g and k in ks for k, b in zip(keys, buckets)):
            assert i in kept, f"file {i} holds a requested key but was pruned"
    # bloom skip: the bloomed files' ranges cover g0-k0002 but they do not
    # hold it; the unbloomed holder and the stat-less file stay
    assert probe_files(["g0-k0002"], [0], metas) == [2, 3]
    # a key probed in group 2 never keeps the group-0 file that holds it:
    # only group 2's file without stats or bloom passes
    assert probe_files(["g0-k0000"], [2], metas) == [11]


def test_probe_files_range_only_skip():
    metas = _held([
        (0, ["a1", "a5"], True, False),
        (0, ["m1", "m9"], True, False),
        (0, ["z1", "z2"], False, False),  # no stats: always kept
    ])
    assert probe_files(["m3"], [0], metas) == [1, 2]
    assert probe_files(["b"], [0], metas) == [2]
    assert probe_files([], [], metas) == []


def test_probe_files_single_group_for_nonkey_bucketing():
    # bucket_col != key_col: one key's versions sit in several physical
    # buckets, so every file is probed as group 0 and each holder is kept
    physical = [["k1", "k2"], ["k1", "k7"], ["k3", "k9"], ["k8"]]
    metas = [(0, _entry(ks)) for ks in physical]
    kept = probe_files(["k1", "k9"], [0, 0], metas)
    assert kept == _probe_reference(["k1", "k9"], [0, 0], metas)
    assert {0, 1, 2} <= set(kept) and 3 not in kept


def test_preimage_stats_keeps_the_newest_entries(tmp_path):
    t = LakeTable.create(None, str(tmp_path / "tbl"), n_buckets=2)
    for i in range(2000):
        t._note_preimage(i, 0)
    assert isinstance(t.preimage_stats, list)
    assert len(t.preimage_stats) == PREIMAGE_STATS_KEEP == 1024
    assert t.preimage_stats[-1]["files_total"] == 1999
    assert t.preimage_stats[0]["files_total"] == 2000 - 1024


def _mk_table(spark, root, n_base=2000, n_sparse_epochs=2, keys_per_epoch=100, n_buckets=8):
    """Bulk base epoch (no blooms — a bulk file holds every key of its
    bucket) + sparse delta epochs (bloomed: the files later probes prune)."""
    t = LakeTable.create(spark, root, n_buckets=n_buckets)
    t.set_key_blooms(True)
    base = [
        (10, i, "t", "I", f"k00-{i:04d}", [0, i], 2, "web", 0, 0)
        for i in range(n_base)
    ]
    t.merge_epoch(_events(spark, base), "e0")
    for e in range(1, n_sparse_epochs + 1):
        rows = [
            (
                10 + e,
                e * 100000 + i,
                "t",
                "I",
                f"k{e:02d}-{i:04d}",
                [e, i],
                2,
                "web",
                0,
                0,
            )
            for i in range(keys_per_epoch)
        ]
        t.merge_epoch(_events(spark, rows), f"e{e}")
    return t


def test_read_version_for_keys_matches_read_version_raw(spark, tmp_path):
    t = _mk_table(spark, str(tmp_path / "tbl"))
    v = t.version
    keys = [f"k01-{i:04d}" for i in range(0, 40)] + ["k00-0007", "nope-1"]
    kdf = spark.createDataFrame([(k,) for k in keys], "doc_id string")
    pruned = t.read_version_for_keys(v, kdf)
    full = (
        t.read_version_raw(v)
        .join(F.broadcast(kdf), "doc_id", "semi")
    )
    a = sorted(map(tuple, pruned.collect()))
    b = sorted(map(tuple, full.collect()))
    assert a == b
    assert len(a) == 41  # the absent key contributes nothing


def test_manifest_carries_blooms_and_pruning_skips_files(spark, tmp_path):
    t = _mk_table(spark, str(tmp_path / "tbl"))
    entries = [e for es in t._manifest["buckets"].values() for e in es]
    assert entries and all("rows" in e for e in entries)
    # bulk base files carry NO bloom (they hold every key of their bucket —
    # a bloom there can never prune); sparse delta files carry one
    with_bloom = [e for e in entries if "bloom" in e]
    without = [e for e in entries if "bloom" not in e]
    assert with_bloom, "sparse delta files should be bloomed"
    assert without, "bulk base files should skip the bloom"
    assert max(e["rows"] for e in with_bloom) < min(e["rows"] for e in without)
    # a key set drawn from sparse epoch 2 only: epoch-1 delta files in the
    # same bucket must be bloom-pruned (disjoint prefixes k01 vs k02)
    keys = [f"k02-{i:04d}" for i in range(0, 8)]
    kdf = spark.createDataFrame([(k,) for k in keys], "doc_id string")
    # the reference probe: files any requested key can touch in its bucket
    buckets = [
        r["b"] for r in kdf.select(t._bucket_expr("doc_id").alias("b")).collect()
    ]
    metas = [(int(b), e) for b, es in t._manifest["buckets"].items() for e in es]
    kept = len(_probe_reference(keys, buckets, metas))
    total = len(entries)
    assert kept < total, f"pruning never skipped a file ({kept}/{total})"
    # and the pruned read keeps exactly those files and returns exactly
    # the requested rows
    got = sorted(r["doc_id"] for r in t.read_version_for_keys(t.version, kdf).collect())
    assert got == sorted(keys)
    assert t.preimage_stats[-1] == {"files_total": total, "files_read": kept}


def _range_events(spark, n, ts0=1, op="I"):
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


def test_read_version_for_keys_nonkey_bucketing(spark, tmp_path):
    """Probes on a bucket_col != key_col table must not lose pre-images."""
    root = str(tmp_path / "nb")
    t = LakeTable.create(
        spark, root, fields=FIELDS, n_buckets=8, bucket_col="source"
    )
    t.set_key_blooms(True)
    t.merge_epoch(_range_events(spark, 400), "e1")
    # updates move some keys to a DIFFERENT bucket (source changes), so
    # their versions genuinely span buckets
    upd = _range_events(spark, 100, ts0=1000, op="U").withColumn(
        "source", F.lit("moved")
    )
    t.merge_epoch(upd, "e2")
    v = t.version
    keys = spark.createDataFrame(
        [(f"k{i}",) for i in range(0, 400, 7)], "doc_id string"
    )
    pre = t.read_version_for_keys(v, keys)
    got = {r["doc_id"]: r for r in pre.collect()}
    want = {r["doc_id"]: r for r in t.read_version(v).join(keys, "doc_id", "semi").collect()}
    assert set(got) >= set(want), f"missing pre-images: {sorted(set(want) - set(got))[:5]}"
    # exactly one collapsed row per key, values matching the version read
    dups = pre.groupBy("doc_id").count().filter(F.col("count") > 1).count()
    assert dups == 0
    for k, w in want.items():
        assert (got[k]["n_tok"], got[k]["source"]) == (w["n_tok"], w["source"])
    # telemetry recorded
    st = t.preimage_stats[-1]
    assert st["files_total"] >= st["files_read"] > 0


def test_read_version_for_keys_prunes_on_key_bucketing(spark, tmp_path):
    """Key-bucketed control: few probe keys must prune most bucket files."""
    root = str(tmp_path / "kb")
    t = LakeTable.create(spark, root, fields=FIELDS, n_buckets=32)
    t.set_key_blooms(True)
    t.merge_epoch(_range_events(spark, 2000), "e1")
    keys = spark.createDataFrame([("k3",), ("k77",)], "doc_id string")
    pre = t.read_version_for_keys(t.version, keys)
    assert pre.count() == 2
    st = t.preimage_stats[-1]
    assert st["files_read"] <= 2 < st["files_total"]


# Spark jobs one sparse open-protocol old-value batch may start: the key
# collect, the pre-image read + lag window and the MQ write. The driver-side
# probe brought this down from 10 (checkpointed key distinct, executor
# mapInPandas probe, second key distinct).
SPARSE_OLD_VALUE_JOBS = 6


def test_sparse_old_value_batch_job_budget(spark, tmp_path):
    """ROADMAP #1 job budget for a sparse-trickle old-value batch:
    attach_old_value_json plus the open-protocol MQ write (FeedBase._emit_mq's
    row-framed path) over a sparse key set start at most
    SPARSE_OLD_VALUE_JOBS jobs, and no query of the batch plans a
    MapInPandas (Python worker) node."""
    from ticdc_spark.functions.codec import KEY_FIELDS
    from ticdc_spark.functions.partitioning import slot_representatives
    from ticdc_spark.streaming.dispatch import dispatcher_for, identity_repartition
    from ticdc_spark.streaming.feed import attach_old_value_json

    t = _mk_table(spark, str(tmp_path / "tbl"))
    upd = _events(spark, [
        (20, 3000 + i, "t", "U", f"k02-{i:04d}", [9, i], 2, "web", 0, 0) for i in range(8)
    ])
    sc = spark.sparkContext
    sql_store = spark._jsparkSession.sharedState().statusStore()
    listener_bus = sc._jsc.sc().listenerBus()
    listener_bus.waitUntilEmpty()
    key_json = F.to_json(F.struct(*[F.col(c) for c in KEY_FIELDS])).alias("key_json")
    part = dispatcher_for("index-value", 4, key_col="doc_id")
    slot_representatives(spark, 4)  # one job per process, not per batch
    first_exec = sql_store.executionsCount()
    sc.setJobGroup("sparse-old-value-budget", "job budget")
    try:
        out = attach_old_value_json(t, upd, t.version, key_json, part, n_events=8)
        identity_repartition(out, 4).sortWithinPartitions(
            "partition", "_ots", "_oseq"
        ).drop("_ots", "_oseq").write.mode("overwrite").partitionBy("partition").parquet(
            str(tmp_path / "mq")
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    listener_bus.waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("sparse-old-value-budget")
    assert 0 < len(jobs) <= SPARSE_OLD_VALUE_JOBS, f"{len(jobs)} jobs"
    assert t.preimage_stats[-1]["files_read"] < t.preimage_stats[-1]["files_total"]
    plans = []
    it = sql_store.executionsList().iterator()
    while it.hasNext():
        ex = it.next()
        if ex.executionId() >= first_exec:
            plans.append(ex.physicalPlanDescription())
    assert plans and not any("MapInPandas" in p for p in plans)
    olds = {
        r["key_json"]: r["old_json"]
        for r in spark.read.parquet(str(tmp_path / "mq")).collect()
    }
    assert len(olds) == 8 and all(o is not None for o in olds.values())


def test_version_rows_stat(spark, tmp_path):
    t = _mk_table(
        spark, str(tmp_path / "tbl"), n_base=400, n_sparse_epochs=1, keys_per_epoch=50
    )
    assert t.version_rows(t.version) == 450


def test_old_value_sparse_batch_end_to_end(spark, tmp_path):
    """Bulk first batch (bucket path), sparse second batch (key-pruned
    path): the emitted old images must equal the pre-batch snapshot either
    way. 1000 base keys vs 3 updated keys → 3*4 < 1000 takes the sparse
    branch."""
    import glob
    import json as j
    import os
    import shutil

    from ticdc_spark.streaming.changefeed import ChangeFeed

    def write_file(df, binlog, name):
        stage = str(tmp_path / f"_stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        os.makedirs(binlog, exist_ok=True)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(binlog, f"{name}.parquet"))

    base = [
        (10, i, "t", "I", f"d{i:04d}", [i], 1, "web", 0, 0) for i in range(1000)
    ]
    upd = [
        (20, 2001, "t", "U", "d0007", [7, 7], 2, "web", 0, 0),
        (20, 2002, "t", "U", "d0123", [1, 2, 3], 3, "book", 0, 0),
        (20, 2003, "t", "D", "d0500", None, None, None, 0, 0),
    ]
    binlog = str(tmp_path / "binlog")
    write_file(_events(spark, base), binlog, "f0")
    write_file(_events(spark, upd), binlog, "f1")
    t = LakeTable.create(spark, str(tmp_path / "tbl"), n_buckets=8)
    cf = ChangeFeed(
        t,
        binlog,
        checkpoint_dir=str(tmp_path / "ckpt"),
        mode="typed",
        max_files_per_trigger=1,
        mq_dir=str(tmp_path / "mq"),
        mq_partitions=4,
        mq_protocol="open",
        mq_old_value=True,
    )
    cf.run_available()
    assert t.read().count() == 999
    msgs = spark.read.parquet(str(tmp_path / "mq") + "/batch-*/partition=*")
    second = {
        j.loads(r["key_json"])["doc_id"]: r["old_json"]
        for r in msgs.collect()
        if j.loads(r["key_json"])["commit_ts"] == 20
    }
    assert set(second) == {"d0007", "d0123", "d0500"}
    assert j.loads(second["d0007"])["tokens"] == [7]
    assert j.loads(second["d0123"])["tokens"] == [123]
    assert j.loads(second["d0500"])["tokens"] == [500]
