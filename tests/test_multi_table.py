"""Multi-table changefeed: per-table routing, boundary-ts add, stop-at-ts
(cdc/processor/processor.go:322-447 handleTableOperation analog)."""

import glob
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ticdc_spark.lake.table import LakeTable
from ticdc_spark.oracle import apply_binlog, diff_tables
from ticdc_spark.streaming.multi import MultiTableChangeFeed
from ticdc_spark.testgen import BinlogSpec, write_binlog


def _lake_arrow(table):
    pdf = table.read().toPandas().sort_values("doc_id").reset_index(drop=True)
    return pa.table(
        {
            "doc_id": pa.array(pdf["doc_id"], pa.string()),
            "tokens": pa.array([list(t) for t in pdf["tokens"]], pa.list_(pa.int32())),
            "n_tok": pa.array(pdf["n_tok"], pa.int32()),
            "source": pa.array(pdf["source"], pa.string()),
        }
    )


def _mk_two_table_binlog(tmp_path, n=6_000, ordered=False):
    """Two tables' events interleaved in one binlog dir.

    ordered=True delivers each table's files as commit-ts ranges with no ts
    group straddling two files — the puller's per-span no-late contract
    (required by old-value mode and barrier-ordered data DDLs; arbitrary
    INTERLEAVING of the two tables' ordered streams remains, which is
    exactly what the per-table span frontier must tolerate)."""
    stage_a = str(tmp_path / "stage_a")
    stage_b = str(tmp_path / "stage_b")
    ooo = not ordered
    write_binlog(BinlogSpec(n_events=n, n_keys=n // 10, seed=51, table="ta", p_delete=0.15, p_insert=0.55, out_of_order=ooo), stage_a, files_per_part=3, align_ts=ordered)
    write_binlog(BinlogSpec(n_events=n, n_keys=n // 10, seed=52, table="tb", p_delete=0.1, p_insert=0.6, out_of_order=ooo), stage_b, files_per_part=3, align_ts=ordered)
    binlog = str(tmp_path / "binlog")
    os.makedirs(binlog)
    for tag, stage in (("a", stage_a), ("b", stage_b)):
        for f in glob.glob(stage + "/*.parquet"):
            os.link(f, os.path.join(binlog, f"{tag}-{os.path.basename(f)}"))
    ev_a = pq.read_table(stage_a)
    ev_b = pq.read_table(stage_b)
    return binlog, ev_a, ev_b


def test_two_tables_replicate_independently(spark, tmp_path):
    binlog, ev_a, ev_b = _mk_two_table_binlog(tmp_path)
    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=4)
    tb = LakeTable.create(spark, str(tmp_path / "tb"), n_buckets=4)
    cf = MultiTableChangeFeed(
        {"ta": ta, "tb": tb}, binlog, str(tmp_path / "ckpt"), max_files_per_trigger=2
    )
    summaries = cf.run_available()
    assert len(summaries) >= 2
    resolved = summaries[-1]["resolved_ts"]
    for tbl, ev in ((ta, ev_a), (tb, ev_b)):
        expected = apply_binlog(ev, upto_ts=resolved)
        problems = diff_tables(expected, _lake_arrow(tbl))
        assert not problems, problems[:3]
    # both tables committed over the run; a batch where a table has nothing
    # releasable SKIPS its merge (per-table provably-empty check) rather
    # than committing an empty epoch
    committed = {n for s in summaries for n, ok in s["tables"].items() if ok}
    assert committed == {"ta", "tb"}


def test_add_table_at_boundary_and_stop(spark, tmp_path):
    """An added table only receives events ABOVE its boundary-ts; a removed
    table stops at stop-ts (inclusive)."""
    binlog, ev_a, ev_b = _mk_two_table_binlog(tmp_path)
    lo = pc.min(ev_b.column("commit_ts")).as_py()
    hi = pc.max(ev_b.column("commit_ts")).as_py()
    boundary = (lo + hi) // 2
    stop_a = (lo + hi) // 2

    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=4)
    tb = LakeTable.create(spark, str(tmp_path / "tb"), n_buckets=4)
    cf = MultiTableChangeFeed(
        {"ta": ta}, binlog, str(tmp_path / "ckpt"), max_files_per_trigger=4,
        stop_ts={"ta": stop_a},
    )
    cf.add_table("tb", tb, boundary_ts=boundary)
    summaries = cf.run_available()
    resolved = summaries[-1]["resolved_ts"]

    # ta stopped at stop_a
    expected_a = apply_binlog(ev_a, upto_ts=min(stop_a, resolved))
    assert not diff_tables(expected_a, _lake_arrow(ta))
    # tb sees only (boundary, resolved]
    ev_b_above = ev_b.filter(pc.greater(ev_b.column("commit_ts"), boundary))
    expected_b = apply_binlog(ev_b_above, upto_ts=resolved)
    assert not diff_tables(expected_b, _lake_arrow(tb))
    assert resolved > boundary  # the boundary actually bit


def test_multi_table_resume_idempotent(spark, tmp_path):
    """Restart over the same checkpoint: per-table epoch ids make re-applied
    batches no-ops for tables that already committed."""
    binlog, ev_a, ev_b = _mk_two_table_binlog(tmp_path, n=3_000)
    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=4)
    tb = LakeTable.create(spark, str(tmp_path / "tb"), n_buckets=4)
    ck = str(tmp_path / "ckpt")
    cf1 = MultiTableChangeFeed({"ta": ta, "tb": tb}, binlog, ck, max_files_per_trigger=3)
    s1 = cf1.run_available()
    v_a, v_b = ta._manifest["version"], tb._manifest["version"]
    # re-run (nothing new): no batches or no commits; state unchanged
    cf2 = MultiTableChangeFeed(
        {"ta": LakeTable(spark, str(tmp_path / "ta")), "tb": LakeTable(spark, str(tmp_path / "tb"))},
        binlog, ck, max_files_per_trigger=3,
    )
    s2 = cf2.run_available()
    assert all(not any(s["tables"].values()) for s in s2)
    assert LakeTable(spark, str(tmp_path / "ta"))._manifest["version"] == v_a
    assert LakeTable(spark, str(tmp_path / "tb"))._manifest["version"] == v_b
    resolved = s1[-1]["resolved_ts"]
    expected = apply_binlog(ev_a, upto_ts=resolved)
    assert not diff_tables(expected, _lake_arrow(LakeTable(spark, str(tmp_path / "ta"))))


def test_multi_table_ddl_barriers_route_per_table(spark, tmp_path):
    """One DDL stream routed by table: ta gains `lang` at its barrier, tb
    drops `source` at its own; each table's data still matches its oracle,
    and neither table sees the other's DDL."""
    binlog, ev_a, ev_b = _mk_two_table_binlog(tmp_path, n=4_000, ordered=True)
    lo = pc.min(ev_a.column("commit_ts")).as_py()
    hi = pc.max(ev_a.column("commit_ts")).as_py()
    mid = (lo + hi) // 2
    ddl_rows = [
        {"commit_ts": mid, "ddl_type": "add_column", "table": "ta",
         "spec": '{"name":"lang","type":"string"}'},
        {"commit_ts": mid + 1, "ddl_type": "drop_column", "table": "tb",
         "spec": '{"name":"source"}'},
    ]
    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=4)
    tb = LakeTable.create(spark, str(tmp_path / "tb"), n_buckets=4)
    cf = MultiTableChangeFeed(
        {"ta": ta, "tb": tb}, binlog, str(tmp_path / "ckpt"),
        max_files_per_trigger=3, ddl_rows=ddl_rows,
    )
    summaries = cf.run_available()
    resolved = summaries[-1]["resolved_ts"]
    assert resolved > mid + 1  # barriers actually crossed

    assert [f["name"] for f in ta.current_fields] == ["doc_id", "tokens", "n_tok", "source", "lang"]
    assert [f["name"] for f in tb.current_fields] == ["doc_id", "tokens", "n_tok"]
    assert ta.schema_version == 1 and tb.schema_version == 1

    # data still matches the per-table oracles (lang is NULL everywhere —
    # the typed stream carries no lang values)
    exp_a = apply_binlog(ev_a, upto_ts=resolved)
    got_a = _lake_arrow(ta)  # selects the base four columns
    assert not diff_tables(exp_a, got_a)
    pdf_a = ta.read().toPandas()
    assert pdf_a["lang"].isna().all()

    exp_b = apply_binlog(ev_b, upto_ts=resolved).drop_columns(["source"])
    pdf_b = tb.read().toPandas().sort_values("doc_id").reset_index(drop=True)
    got_b = pa.table(
        {
            "doc_id": pa.array(pdf_b["doc_id"], pa.string()),
            "tokens": pa.array([list(v) for v in pdf_b["tokens"]], pa.list_(pa.int32())),
            "n_tok": pa.Array.from_pandas(pdf_b["n_tok"], type=pa.int32()),
        }
    )
    assert not diff_tables(exp_b, got_b)


def test_multi_table_all_tables_drop_a_column(spark, tmp_path):
    """Regression: when EVERY table's final schema drops `source`, the
    stream schema must still carry it for the pre-barrier slices."""
    binlog, ev_a, ev_b = _mk_two_table_binlog(tmp_path, n=3_000)
    mids = {}
    for nm, ev in (("ta", ev_a), ("tb", ev_b)):
        lo = pc.min(ev.column("commit_ts")).as_py()
        hi = pc.max(ev.column("commit_ts")).as_py()
        mids[nm] = (lo + hi) // 2
    ddl_rows = [
        {"commit_ts": mids["ta"], "ddl_type": "drop_column", "table": "ta",
         "spec": '{"name":"source"}'},
        {"commit_ts": mids["tb"] + 1, "ddl_type": "drop_column", "table": "tb",
         "spec": '{"name":"source"}'},
    ]
    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=4)
    tb = LakeTable.create(spark, str(tmp_path / "tb"), n_buckets=4)
    cf = MultiTableChangeFeed(
        {"ta": ta, "tb": tb}, binlog, str(tmp_path / "ckpt"),
        max_files_per_trigger=3, ddl_rows=ddl_rows,
    )
    summaries = cf.run_available()
    resolved = summaries[-1]["resolved_ts"]
    for tbl, ev in ((ta, ev_a), (tb, ev_b)):
        assert [f["name"] for f in tbl.current_fields] == ["doc_id", "tokens", "n_tok"]
        exp = apply_binlog(ev, upto_ts=resolved).drop_columns(["source"])
        pdf = tbl.read().toPandas().sort_values("doc_id").reset_index(drop=True)
        got = pa.table(
            {
                "doc_id": pa.array(pdf["doc_id"], pa.string()),
                "tokens": pa.array([list(v) for v in pdf["tokens"]], pa.list_(pa.int32())),
                "n_tok": pa.Array.from_pandas(pdf["n_tok"], type=pa.int32()),
            }
        )
        assert not diff_tables(exp, got)


def test_multi_table_raw_mode_widen_rename(spark, tmp_path):
    """Raw mode unlocks every DDL kind per table: ta widens n_tok and
    renames source→origin, tb adds lang; each table matches its raw oracle
    at its own final schema."""
    from ticdc_spark.oracle import apply_binlog_raw
    from ticdc_spark.streaming.registry import SchemaRegistry
    from ticdc_spark.testgen import binlog_to_raw, generate_binlog, write_raw_binlog

    BASE = [
        {"id": 1, "name": "doc_id", "type": "string"},
        {"id": 2, "name": "tokens", "type": "array<int>"},
        {"id": 3, "name": "n_tok", "type": "int"},
        {"id": 4, "name": "source", "type": "string"},
    ]
    binlog = str(tmp_path / "binlog")
    os.makedirs(binlog)
    raws, ddls_by = {}, {}
    for i, nm in enumerate(("ta", "tb")):
        typed = generate_binlog(
            BinlogSpec(n_events=3_000, n_keys=300, seed=70 + i, table=nm,
                       p_delete=0.12, p_insert=0.55, p_update=0.33)
        )
        lo = pc.min(typed.column("commit_ts")).as_py()
        hi = pc.max(typed.column("commit_ts")).as_py()
        mid = (lo + hi) // 2
        if nm == "ta":
            ddls = [
                (mid, "widen_column", {"name": "n_tok", "to": "bigint"}),
                (mid + 2, "rename_column", {"from": "source", "to": "origin"}),
            ]
        else:
            ddls = [(mid + 1, "add_column", {"name": "lang", "type": "string"})]
        ddls_by[nm] = ddls
        raw = binlog_to_raw(typed, ddls)
        stage = str(tmp_path / f"stage_{nm}")
        write_raw_binlog(raw, stage, n_files=3)
        for f in glob.glob(stage + "/*.parquet"):
            os.link(f, os.path.join(binlog, f"{nm}-{os.path.basename(f)}"))
        raws[nm] = raw

    ddl_rows = [
        {"commit_ts": ts, "ddl_type": t_, "table": nm, "spec": s}
        for nm, dd in ddls_by.items()
        for ts, t_, s in dd
    ]
    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=4)
    tb = LakeTable.create(spark, str(tmp_path / "tb"), n_buckets=4)
    cf = MultiTableChangeFeed(
        {"ta": ta, "tb": tb}, binlog, str(tmp_path / "ckpt"),
        max_files_per_trigger=2, ddl_rows=ddl_rows, mode="raw",
    )
    summaries = cf.run_available()
    resolved = summaries[-1]["resolved_ts"]

    assert [f["name"] for f in ta.current_fields] == ["doc_id", "tokens", "n_tok", "origin"]
    assert dict((f["name"], f["type"]) for f in ta.current_fields)["n_tok"] == "bigint"
    assert [f["name"] for f in tb.current_fields] == ["doc_id", "tokens", "n_tok", "source", "lang"]

    for nm, tbl in (("ta", ta), ("tb", tb)):
        reg = SchemaRegistry(BASE, ddls_by[nm])
        final_fields = reg.fields(len(ddls_by[nm]))
        expected = apply_binlog_raw(raws[nm], BASE, ddls_by[nm], upto_ts=resolved)
        pa_type = {"string": pa.string(), "int": pa.int32(), "bigint": pa.int64()}
        pdf = tbl.read().toPandas().sort_values("doc_id").reset_index(drop=True)
        cols = {}
        for f in final_fields:
            if f["type"] == "array<int>":
                cols[f["name"]] = pa.array(
                    [None if v is None else list(v) for v in pdf[f["name"]]],
                    pa.list_(pa.int32()),
                )
            else:
                cols[f["name"]] = pa.Array.from_pandas(pdf[f["name"]], type=pa_type[f["type"]])
        assert not diff_tables(expected, pa.table(cols)), nm


def test_multi_table_soak_crash_redelivery_compaction(spark, tmp_path):
    """Multi-table chaos: partial stream + crash, restart with the rest,
    full redelivery under a fresh feed, compaction mid-way — both tables
    must match their oracles at the final frontier."""
    binlog, ev_a, ev_b = _mk_two_table_binlog(tmp_path, n=4_000)
    files = sorted(glob.glob(binlog + "/*.parquet"))
    part1 = str(tmp_path / "p1")
    os.makedirs(part1)
    for f in files[: len(files) // 2]:
        os.link(f, os.path.join(part1, os.path.basename(f)))

    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=4)
    tb = LakeTable.create(spark, str(tmp_path / "tb"), n_buckets=4)
    ck = str(tmp_path / "ckpt")
    cf1 = MultiTableChangeFeed({"ta": ta, "tb": tb}, part1, ck, max_files_per_trigger=3)
    cf1.run_available()

    ta.compact(purge_tombstones=False)  # mid-way fold; tombstones retained

    for f in files[len(files) // 2:]:
        os.link(f, os.path.join(part1, os.path.basename(f)))
    cf2 = MultiTableChangeFeed(
        {"ta": LakeTable(spark, str(tmp_path / "ta")), "tb": LakeTable(spark, str(tmp_path / "tb"))},
        part1, ck, max_files_per_trigger=3,
    )
    s2 = cf2.run_available()
    resolved = s2[-1]["resolved_ts"]

    # full redelivery under a DIFFERENT feed (fresh checkpoint)
    cf3 = MultiTableChangeFeed(
        {"ta": LakeTable(spark, str(tmp_path / "ta")), "tb": LakeTable(spark, str(tmp_path / "tb"))},
        binlog, str(tmp_path / "ckpt2"), max_files_per_trigger=6,
    )
    s3 = cf3.run_available()
    resolved = max(resolved, s3[-1]["resolved_ts"])

    for nm, ev in (("ta", ev_a), ("tb", ev_b)):
        tbl = LakeTable(spark, str(tmp_path / nm))
        expected = apply_binlog(ev, upto_ts=resolved)
        problems = diff_tables(expected, _lake_arrow(tbl))
        assert not problems, (nm, problems[:3])


def test_multi_table_mq_pipeline_with_rules_and_ddl(spark, tmp_path):
    """Round-2: multi-table MQ emission routed by the dispatcher rule set
    ('ta' → table rule: all ta rows share one partition; others →
    index-value), per-table DDL messages, and the multi-table consumer
    replicating both downstream tables to upstream state."""
    from pyspark.sql import functions as F

    from ticdc_spark.streaming.consumer import MultiMQConsumer

    binlog, ev_a, ev_b = _mk_two_table_binlog(tmp_path, n=4_000, ordered=True)
    lo = pc.min(ev_a.column("commit_ts")).as_py()
    hi = pc.max(ev_a.column("commit_ts")).as_py()
    ddl_rows = [
        {"commit_ts": (lo + hi) // 2, "ddl_type": "add_column", "table": "ta",
         "spec": '{"name":"lang","type":"string"}'},
    ]
    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=4)
    tb = LakeTable.create(spark, str(tmp_path / "tb"), n_buckets=4)
    mq = str(tmp_path / "mq")
    cf = MultiTableChangeFeed(
        {"ta": ta, "tb": tb}, binlog, str(tmp_path / "ckpt"),
        max_files_per_trigger=3, ddl_rows=ddl_rows,
        mq_dir=mq, mq_partitions=8,
        mq_dispatch_rules=[("ta", "table")],
    )
    cf.run_available()
    assert ta.schema_version == 1  # the ta DDL executed

    # routing: every ta message landed in ONE partition (table rule);
    # tb spreads over partitions (index-value)
    batch_dirs = sorted(
        os.path.join(mq, d) for d in os.listdir(mq) if d.startswith("batch-")
    )
    parts = [
        spark.read.option("basePath", b).parquet(b + "/partition=*")
        for b in batch_dirs
    ]
    msgs = parts[0]
    for p in parts[1:]:
        msgs = msgs.unionByName(p)
    tcol = F.get_json_object("key_json", "$.table")
    assert msgs.filter(tcol == "ta").select("partition").distinct().count() == 1
    assert msgs.filter(tcol == "tb").select("partition").distinct().count() > 1

    # downstream replication incl. the ta schema evolution
    da = LakeTable.create(spark, str(tmp_path / "da"), n_buckets=4)
    db = LakeTable.create(spark, str(tmp_path / "db"), n_buckets=4)
    stats = MultiMQConsumer(spark, mq, {"ta": da, "tb": db}).run_once()
    assert stats
    assert [f["name"] for f in da.current_fields] == [f["name"] for f in ta.current_fields]
    for up, down in ((ta, da), (tb, db)):
        cols = [f["name"] for f in up.current_fields]
        a = {r["doc_id"]: tuple(
            tuple(v) if isinstance(v, list) else v for v in [r[c] for c in cols])
            for r in up.read().collect()}
        b = {r["doc_id"]: tuple(
            tuple(v) if isinstance(v, list) else v for v in [r[c] for c in cols])
            for r in down.read().collect()}
        assert a == b and len(a) > 0
    # re-consumption is a per-table no-op
    assert MultiMQConsumer(spark, mq, {"ta": da, "tb": db}).run_once() == []


def test_consistent_cross_table_read_at_syncpoint(spark, tmp_path):
    """Syncpoint PIT reads are consistent ACROSS tables: reading both
    tables at a mid-stream resolved ts reproduces each table's oracle
    state at exactly that ts."""
    from ticdc_spark.streaming.multi import consistent_read

    binlog, ev_a, ev_b = _mk_two_table_binlog(tmp_path, n=4_000)
    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=4)
    tb = LakeTable.create(spark, str(tmp_path / "tb"), n_buckets=4)
    cf = MultiTableChangeFeed(
        {"ta": ta, "tb": tb}, binlog, str(tmp_path / "ckpt"), max_files_per_trigger=2
    )
    summaries = cf.run_available()
    assert len(summaries) >= 3
    mid_ts = summaries[1]["resolved_ts"]  # a mid-stream consistency point

    snap = consistent_read({"ta": ta, "tb": tb}, mid_ts)
    for name, ev in (("ta", ev_a), ("tb", ev_b)):
        expected = apply_binlog(ev, upto_ts=mid_ts)
        pdf = snap[name].toPandas().sort_values("doc_id").reset_index(drop=True)
        actual = pa.table({
            "doc_id": pa.array(pdf["doc_id"], pa.string()),
            "tokens": pa.array([list(t) for t in pdf["tokens"]], pa.list_(pa.int32())),
            "n_tok": pa.array(pdf["n_tok"], pa.int32()),
            "source": pa.array(pdf["source"], pa.string()),
        })
        assert not diff_tables(expected, actual)

    # below the first syncpoint → explicit refusal
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no syncpoint"):
        consistent_read({"ta": ta}, -1)


def test_multi_table_mq_raw_mode_rename_ddl(spark, tmp_path):
    """Raw-mode multi-table MQ: payloads are mounted to each table's
    batch-final schema before emission, so a RENAME DDL on one table still
    replicates downstream with the new field name intact."""
    import json as _json

    from ticdc_spark.streaming.consumer import MultiMQConsumer
    from ticdc_spark.testgen import binlog_to_raw, generate_binlog, write_raw_binlog

    raws = {}
    binlog = str(tmp_path / "binlog")
    os.makedirs(binlog)
    ddls_a = None
    for i, (name, seed) in enumerate((("ta", 61), ("tb", 62))):
        typed = generate_binlog(
            BinlogSpec(n_events=3_000, n_keys=300, seed=seed, table=name,
                       p_delete=0.1, p_insert=0.6)
        )
        lo = pc.min(typed.column("commit_ts")).as_py()
        hi = pc.max(typed.column("commit_ts")).as_py()
        ddls = []
        if name == "ta":
            ddls = [((lo + hi) // 2, "rename_column", {"from": "source", "to": "origin"})]
            ddls_a = ddls
        raw = binlog_to_raw(typed, ddls)
        pq.write_table(raw, os.path.join(binlog, f"{name}-raw.parquet"))
        raws[name] = raw

    ddl_rows = [
        {"commit_ts": ts, "ddl_type": ty, "table": "ta", "spec": _json.dumps(sp)}
        for ts, ty, sp in ddls_a
    ]
    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=4)
    tb = LakeTable.create(spark, str(tmp_path / "tb"), n_buckets=4)
    mq = str(tmp_path / "mq")
    cf = MultiTableChangeFeed(
        {"ta": ta, "tb": tb}, binlog, str(tmp_path / "ckpt"), mode="raw",
        ddl_rows=ddl_rows, mq_dir=mq, mq_partitions=4,
    )
    cf.run_available()
    assert ta.schema_version == 1
    assert [f["name"] for f in ta.current_fields] == ["doc_id", "tokens", "n_tok", "origin"]

    da = LakeTable.create(spark, str(tmp_path / "da"), n_buckets=4)
    db = LakeTable.create(spark, str(tmp_path / "db"), n_buckets=4)
    stats = MultiMQConsumer(spark, mq, {"ta": da, "tb": db}).run_once()
    assert stats
    for up, down in ((ta, da), (tb, db)):
        cols = [f["name"] for f in up.current_fields]
        a = {r["doc_id"]: tuple(tuple(v) if isinstance(v, list) else v
                                for v in [r[c] for c in cols])
             for r in up.read().collect()}
        b = {r["doc_id"]: tuple(tuple(v) if isinstance(v, list) else v
                                for v in [r[c] for c in cols])
             for r in down.read().collect()}
        assert a == b and len(a) > 0
    # the renamed column actually carries values downstream
    from pyspark.sql import functions as F

    assert da.read().filter(F.col("origin").isNotNull()).count() > 0


def test_multi_table_mq_avro_protocol(spark, tmp_path):
    """Protocol switch on the MULTI-table MQ path: per-table Avro binary
    envelopes (distinct subjects per table) union into one batch dir; the
    multi consumer decodes each table at its own schema, incl. a ta-only
    DDL."""
    from ticdc_spark.streaming.consumer import MultiMQConsumer

    binlog, ev_a, ev_b = _mk_two_table_binlog(tmp_path, n=3_000)
    lo = pc.min(ev_a.column("commit_ts")).as_py()
    hi = pc.max(ev_a.column("commit_ts")).as_py()
    ddl_rows = [
        {"commit_ts": (lo + hi) // 2, "ddl_type": "add_column", "table": "ta",
         "spec": '{"name":"lang","type":"string"}'},
    ]
    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=4)
    tb = LakeTable.create(spark, str(tmp_path / "tb"), n_buckets=4)
    mq = str(tmp_path / "mq")
    cf = MultiTableChangeFeed(
        {"ta": ta, "tb": tb}, binlog, str(tmp_path / "ckpt"),
        max_files_per_trigger=3, ddl_rows=ddl_rows,
        mq_dir=mq, mq_partitions=4, mq_protocol="avro",
    )
    cf.run_available()
    assert ta.schema_version == 1 and tb.schema_version == 0

    da = LakeTable.create(spark, str(tmp_path / "da"), n_buckets=4)
    db = LakeTable.create(spark, str(tmp_path / "db"), n_buckets=4)
    consumer = MultiMQConsumer(spark, mq, {"ta": da, "tb": db}, protocol="avro")
    stats = consumer.run_once()
    assert stats
    for up, down in ((ta, da), (tb, db)):
        cols = [f["name"] for f in up.current_fields]
        assert cols == [f["name"] for f in down.current_fields]
        a = {r["doc_id"]: tuple(
            tuple(v) if isinstance(v, list) else v for v in [r[c] for c in cols])
            for r in up.read().collect()}
        b = {r["doc_id"]: tuple(
            tuple(v) if isinstance(v, list) else v for v in [r[c] for c in cols])
            for r in down.read().collect()}
        assert a == b and len(a) > 0
    assert consumer.run_once() == []


def test_multi_table_mq_old_value(spark, tmp_path):
    """enable-old-value on the multi-table feed: each table's messages carry
    pre-images resolved against ITS OWN pre-batch snapshot (cross-batch) or
    the in-batch lag window. The two tables get disjoint `part` ranges —
    like distinct TiKV spans — so each part's stream stays ts-ordered and
    the resolved frontier never outruns either table's arrival (old-value
    mode panics on late events by design)."""
    import json as j
    import time

    spec = dict(n_events=3_000, n_keys=150, p_delete=0.2, p_insert=0.5,
                out_of_order=False, n_parts=4)
    stage_a, stage_b = str(tmp_path / "sa"), str(tmp_path / "sb")
    write_binlog(BinlogSpec(seed=81, table="ta", **spec), stage_a, files_per_part=3, align_ts=True)
    write_binlog(BinlogSpec(seed=82, table="tb", **spec), stage_b, files_per_part=3, align_ts=True)
    # shift tb onto parts 4..7 (its own span set)
    for f in glob.glob(stage_b + "/*.parquet"):
        t = pq.read_table(f)
        t = t.set_column(t.schema.get_field_index("part"), "part",
                         pc.add(t.column("part"), 4).cast(pa.int32()))
        pq.write_table(t, f)
    binlog = str(tmp_path / "binlog")
    os.makedirs(binlog)
    # interleave arrival: trigger i sees (a_i, b_i) — aligned ts ranges
    now = time.time()
    for i in range(3):
        for tag, stage in (("a", stage_a), ("b", stage_b)):
            src = os.path.join(stage, f"binlog-{i:05d}.parquet")
            dst = os.path.join(binlog, f"{i:05d}-{tag}.parquet")
            os.link(src, dst)
            os.utime(dst, (now + i * 2, now + i * 2))

    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=4)
    tb = LakeTable.create(spark, str(tmp_path / "tb"), n_buckets=4)
    mq = str(tmp_path / "mq")
    cf = MultiTableChangeFeed(
        {"ta": ta, "tb": tb}, binlog, str(tmp_path / "ckpt"),
        max_files_per_trigger=2, mq_dir=mq, mq_partitions=4, mq_old_value=True,
    )
    summaries = cf.run_available()
    assert len(summaries) == 3  # cross-batch pre-image path exercised

    # per-table python oracle of pre-images, keyed by (table, ts, seq, op)
    want = {}
    for name, stage in (("ta", stage_a), ("tb", stage_b)):
        ev = pq.read_table(stage).to_pylist()
        op_rank = {"D": 0, "I": 1, "U": 1}
        ev.sort(key=lambda r: (r["commit_ts"], r["seq"], op_rank[r["op"]]))
        state = {}
        for r in ev:
            want[(name, r["commit_ts"], r["seq"], r["op"])] = state.get(r["doc_id"])
            state[r["doc_id"]] = None if r["op"] == "D" else {
                "tokens": list(r["tokens"]), "n_tok": r["n_tok"]}

    n_checked = n_old = {"ta": 0, "tb": 0}, {"ta": 0, "tb": 0}
    n_checked, n_old = n_checked[0], n_old[1]
    for m in spark.read.parquet(mq + "/batch-*/partition=*").collect():
        key = j.loads(m["key_json"])
        if key.get("type") in ("resolved", "ddl"):
            continue
        pre = want[(key["table"], key["commit_ts"], key["seq"], key["op"])]
        if pre is None:
            assert m["old_json"] is None, key
        else:
            got = j.loads(m["old_json"])
            assert got["tokens"] == pre["tokens"] and got["n_tok"] == pre["n_tok"], key
            n_old[key["table"]] += 1
        n_checked[key["table"]] += 1
    assert min(n_checked.values()) > 2000 and min(n_old.values()) > 500


def test_multi_table_old_value_crash_replay(spark, tmp_path):
    """Crash-replay of the LAST multi-table batch under enable-old-value:
    per-table pre-versions + the pre-batch frontier come from the persisted
    batch record, so the re-delivered batch emits identical messages and
    does not false-panic the late check."""
    import json as j
    import time

    spec = dict(n_events=2_000, n_keys=120, p_delete=0.2, p_insert=0.5,
                out_of_order=False, n_parts=4)
    stage_a, stage_b = str(tmp_path / "sa"), str(tmp_path / "sb")
    write_binlog(BinlogSpec(seed=91, table="ta", **spec), stage_a, files_per_part=2, align_ts=True)
    write_binlog(BinlogSpec(seed=92, table="tb", **spec), stage_b, files_per_part=2, align_ts=True)
    for f in glob.glob(stage_b + "/*.parquet"):
        t = pq.read_table(f)
        t = t.set_column(t.schema.get_field_index("part"), "part",
                         pc.add(t.column("part"), 4).cast(pa.int32()))
        pq.write_table(t, f)
    binlog = str(tmp_path / "binlog")
    os.makedirs(binlog)
    now = time.time()
    for i in range(2):
        for tag, stage in (("a", stage_a), ("b", stage_b)):
            src = os.path.join(stage, f"binlog-{i:05d}.parquet")
            dst = os.path.join(binlog, f"{i:05d}-{tag}.parquet")
            os.link(src, dst)
            os.utime(dst, (now + i * 2, now + i * 2))

    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=4)
    tb = LakeTable.create(spark, str(tmp_path / "tb"), n_buckets=4)
    mq = str(tmp_path / "mq")
    cf = MultiTableChangeFeed(
        {"ta": ta, "tb": tb}, binlog, str(tmp_path / "ckpt"),
        max_files_per_trigger=2, mq_dir=mq, mq_partitions=4, mq_old_value=True,
    )
    assert len(cf.run_available()) == 2

    def snap():
        out = {}
        for m in spark.read.parquet(mq + "/batch-*/partition=*").collect():
            k = j.loads(m["key_json"])
            if "seq" in k:
                out[(k["table"], k["seq"])] = m["old_json"]
        return out

    before = snap()
    # replay batch 1 (files *-01) through a fresh feed over the same ckpt
    last = spark.read.parquet(
        os.path.join(binlog, "00001-a.parquet"), os.path.join(binlog, "00001-b.parquet")
    )
    cf2 = MultiTableChangeFeed(
        {"ta": LakeTable(spark, str(tmp_path / "ta")),
         "tb": LakeTable(spark, str(tmp_path / "tb"))},
        binlog, str(tmp_path / "ckpt"),
        max_files_per_trigger=2, mq_dir=mq, mq_partitions=4, mq_old_value=True,
    )
    cf2._process_batch(last, 1)  # must not raise 'late'
    assert snap() == before and len(before) > 3000


def test_multi_table_truncate_ddl(spark, tmp_path):
    """truncate_table on ONE table of a multi-table feed: that table wipes
    at its barrier and rebuilds from later events; the other table is
    untouched; the multi-consumer replays the wipe between its DML slices."""
    from ticdc_spark.oracle import apply_binlog
    from ticdc_spark.streaming.consumer import MultiMQConsumer

    binlog, ev_a, ev_b = _mk_two_table_binlog(tmp_path, n=4_000, ordered=True)
    lo = pc.min(ev_a.column("commit_ts")).as_py()
    hi = pc.max(ev_a.column("commit_ts")).as_py()
    trunc_ts = (lo + hi) // 2
    ddl_rows = [{"commit_ts": trunc_ts, "ddl_type": "truncate_table",
                 "table": "ta", "spec": "{}"}]
    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=4)
    tb = LakeTable.create(spark, str(tmp_path / "tb"), n_buckets=4)
    mq = str(tmp_path / "mq")
    cf = MultiTableChangeFeed(
        {"ta": ta, "tb": tb}, binlog, str(tmp_path / "ckpt"),
        max_files_per_trigger=3, ddl_rows=ddl_rows, mq_dir=mq, mq_partitions=4,
    )
    summaries = cf.run_available()
    resolved = summaries[-1]["resolved_ts"]

    post_a = ev_a.filter(pc.greater(ev_a.column("commit_ts"), trunc_ts))
    assert not diff_tables(apply_binlog(post_a, upto_ts=resolved), _lake_arrow(ta))
    assert not diff_tables(apply_binlog(ev_b, upto_ts=resolved), _lake_arrow(tb))

    da = LakeTable.create(spark, str(tmp_path / "da"), n_buckets=4)
    db = LakeTable.create(spark, str(tmp_path / "db"), n_buckets=4)
    consumer = MultiMQConsumer(spark, mq, {"ta": da, "tb": db})
    stats = consumer.run_once()
    assert stats and all(s["committed"] for s in stats)
    for up, down in ((ta, da), (tb, db)):
        a = {r["doc_id"]: list(r["tokens"]) for r in up.read().collect()}
        b = {r["doc_id"]: list(r["tokens"]) for r in down.read().collect()}
        assert a == b and len(a) > 0
    assert consumer.run_once() == []


def test_in_stream_create_and_drop_table(spark, tmp_path):
    """Lifecycle DDL through the feed's DDL stream (schema_storage.go:
    539-624 create/drop table; tests/multi_source/main.go:74-131): a feed
    configured with ONE table grows a second table at the create barrier,
    replicates its DML, and stops it at the drop barrier — no config
    changes. Final state of the created table = LWW fold of its events in
    (create_ts, drop_ts]."""
    binlog, ev_a, ev_c = _mk_two_table_binlog(tmp_path)
    # reuse tb's events as table "tc" by rewriting the table column
    import pyarrow as pa

    lo = pc.min(ev_c.column("commit_ts")).as_py()
    hi = pc.max(ev_c.column("commit_ts")).as_py()
    create_ts = lo + (hi - lo) // 4
    drop_ts = lo + 3 * (hi - lo) // 4
    ev_c = ev_c.set_column(
        ev_c.schema.get_field_index("table"),
        "table",
        pa.array(["tc"] * len(ev_c), pa.string()),
    )
    # rewrite the binlog dir: ta files as-is + tc files
    import shutil

    shutil.rmtree(binlog)
    os.makedirs(binlog)
    for f in glob.glob(str(tmp_path / "stage_a/*.parquet")):
        os.link(f, os.path.join(binlog, "a-" + os.path.basename(f)))
    pq.write_table(ev_c, os.path.join(binlog, "c-0.parquet"))

    fields = [
        {"id": 1, "name": "doc_id", "type": "string"},
        {"id": 2, "name": "tokens", "type": "array<int>"},
        {"id": 3, "name": "n_tok", "type": "int"},
        {"id": 4, "name": "source", "type": "string"},
    ]
    ddl_rows = [
        {"commit_ts": create_ts, "ddl_type": "create_table", "table": "tc",
         "spec": {"fields": fields, "key": "doc_id", "n_buckets": 4}},
        {"commit_ts": drop_ts, "ddl_type": "drop_table", "table": "tc",
         "spec": {}},
    ]
    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=4)
    cf = MultiTableChangeFeed(
        {"ta": ta}, binlog, str(tmp_path / "ckpt"),
        max_files_per_trigger=2, ddl_rows=ddl_rows,
        table_root=str(tmp_path / "created"),
    )
    summaries = cf.run_available()
    resolved = summaries[-1]["resolved_ts"]
    assert resolved > drop_ts  # both barriers passed

    # the configured table replicated normally
    expected_a = apply_binlog(ev_a, upto_ts=resolved)
    assert not diff_tables(expected_a, _lake_arrow(ta))

    # the created table materialized under table_root, converged to the
    # (create, drop] fold, and is marked dropped (data retained)
    assert "tc" in cf.tables and cf.dropped == {"tc": drop_ts}
    tc = cf.tables["tc"]
    win = ev_c.filter(
        pc.and_(
            pc.greater(ev_c.column("commit_ts"), create_ts),
            pc.less_equal(ev_c.column("commit_ts"), drop_ts),
        )
    )
    expected_c = apply_binlog(win)
    assert not diff_tables(expected_c, _lake_arrow(tc))
    assert len(expected_c) > 10  # the window actually carried data


def test_in_stream_recover_table(spark, tmp_path):
    """drop → recover: the table resumes (data retained across the drop —
    TiDB drop is deferred GC, which is what makes RECOVER possible); the
    applied event set is (…, drop] ∪ (recover, ∞) regardless of batch
    alignment."""
    binlog, ev_a, _ = _mk_two_table_binlog(tmp_path, n=4000)
    lo = pc.min(ev_a.column("commit_ts")).as_py()
    hi = pc.max(ev_a.column("commit_ts")).as_py()
    drop_ts = lo + (hi - lo) // 3
    recover_ts = lo + 2 * (hi - lo) // 3
    ddl_rows = [
        {"commit_ts": drop_ts, "ddl_type": "drop_table", "table": "ta", "spec": {}},
        {"commit_ts": recover_ts, "ddl_type": "recover_table", "table": "ta", "spec": {}},
    ]
    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=4)
    cf = MultiTableChangeFeed(
        {"ta": ta}, binlog, str(tmp_path / "ckpt"),
        max_files_per_trigger=2, ddl_rows=ddl_rows,
    )
    summaries = cf.run_available()
    resolved = summaries[-1]["resolved_ts"]
    assert resolved > recover_ts and not cf.dropped

    keep = pc.or_(
        pc.less_equal(ev_a.column("commit_ts"), drop_ts),
        pc.greater(ev_a.column("commit_ts"), recover_ts),
    )
    expected = apply_binlog(ev_a.filter(keep), upto_ts=resolved)
    assert not diff_tables(expected, _lake_arrow(ta))


def test_truncate_defers_until_tables_own_spans_drain(spark, tmp_path):
    """A data-wiping DDL on a table whose stream arrives LATE — after the
    union release frontier already passed the barrier ts on the OTHER
    table's progress — must not apply until the table's own span frontier
    drains past it (the reference's DDL barrier waits for the table
    sorter); applying it early would order the wipe before the table's
    pre-barrier events. Regression test for the per-table span fix."""
    from ticdc_spark.oracle import apply_binlog

    spec = dict(n_events=3_000, n_keys=150, p_delete=0.2, p_insert=0.5,
                out_of_order=False)
    stage_a, stage_b = str(tmp_path / "sa"), str(tmp_path / "sb")
    write_binlog(BinlogSpec(seed=61, table="ta", **spec), stage_a,
                 files_per_part=2, align_ts=True)
    write_binlog(BinlogSpec(seed=62, table="tb", **spec), stage_b,
                 files_per_part=2, align_ts=True)
    # deliver ALL of ta before ANY of tb (a-* sorts first; 2 files/table +
    # max_files_per_trigger=2 → batch 1 is exactly ta, batch 2 exactly tb)
    binlog = str(tmp_path / "binlog")
    os.makedirs(binlog)
    for tag, stage in (("a", stage_a), ("b", stage_b)):
        for f in sorted(glob.glob(stage + "/*.parquet")):
            os.link(f, os.path.join(binlog, f"{tag}-{os.path.basename(f)}"))
    ev_a = pq.read_table(stage_a)
    ev_b = pq.read_table(stage_b)

    lo = pc.min(ev_b.column("commit_ts")).as_py()
    hi = pc.max(ev_b.column("commit_ts")).as_py()
    trunc_ts = (lo + hi) // 2
    ddl_rows = [{"commit_ts": trunc_ts, "ddl_type": "truncate_table",
                 "table": "tb", "spec": "{}"}]
    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=4)
    tb = LakeTable.create(spark, str(tmp_path / "tb"), n_buckets=4)
    cf = MultiTableChangeFeed(
        {"ta": ta, "tb": tb}, binlog, str(tmp_path / "ckpt"),
        max_files_per_trigger=2, ddl_rows=ddl_rows,
    )
    summaries = cf.run_available()
    resolved = summaries[-1]["resolved_ts"]
    assert resolved > trunc_ts
    # batch 1's union frontier already exceeded trunc_ts (ta fully
    # arrived), yet tb must end up = LWW of ONLY its post-truncate events:
    # the wipe waited for tb's own spans instead of firing over -1
    assert summaries[0]["resolved_ts"] > trunc_ts
    exp_b = apply_binlog(
        ev_b.filter(pc.greater(ev_b.column("commit_ts"), trunc_ts)),
        upto_ts=resolved,
    )
    assert not diff_tables(exp_b, _lake_arrow(tb))
    assert tb.schema_version == 1  # the barrier DID apply (second batch)
    # ta untouched by tb's DDL
    exp_a = apply_binlog(ev_a, upto_ts=resolved)
    assert not diff_tables(exp_a, _lake_arrow(ta))
    assert ta.schema_version == 0


def test_summaries_expose_per_table_positions(spark, tmp_path):
    """`cdc cli processor query` analog: each batch summary reports every
    table's OWN span position (min over its spans). The feed's release
    frontier is the union fold, so it is >= every table's own position —
    the per-table numbers show which table lags it."""
    binlog, ev_a, ev_b = _mk_two_table_binlog(tmp_path, n=3_000)
    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=4)
    tb = LakeTable.create(spark, str(tmp_path / "tb"), n_buckets=4)
    cf = MultiTableChangeFeed(
        {"ta": ta, "tb": tb}, binlog, str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
    )
    summaries = cf.run_available()
    for s in summaries:
        tr = s["tables_resolved"]
        assert set(tr) == {"ta", "tb"}
        vals = [v for v in tr.values() if v is not None]
        # the union release frontier dominates every table's own position
        assert vals and s["resolved_ts"] >= min(vals)
    # final positions: both tables fully drained
    last = summaries[-1]["tables_resolved"]
    assert all(v is not None and v > 0 for v in last.values())


def test_multi_table_mq_sized_framing(spark, tmp_path):
    """Sized framing on the SHARED-topic layout: one partition's frames
    interleave both tables' events; the consumer unframes once, routes by
    the key_json table field, and both downstream tables match upstream.
    Every message obeys the caps; a mid-stream DDL still flows."""
    from pyspark.sql import functions as F

    from ticdc_spark.streaming.consumer import MultiMQConsumer

    binlog, ev_a, ev_b = _mk_two_table_binlog(tmp_path, n=4_000, ordered=True)
    lo = pc.min(ev_a.column("commit_ts")).as_py()
    hi = pc.max(ev_a.column("commit_ts")).as_py()
    ddl_rows = [
        {"commit_ts": (lo + hi) // 2, "ddl_type": "add_column", "table": "ta",
         "spec": '{"name":"lang","type":"string"}'},
    ]
    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=4)
    tb = LakeTable.create(spark, str(tmp_path / "tb"), n_buckets=4)
    mq = str(tmp_path / "mq")
    cf = MultiTableChangeFeed(
        {"ta": ta, "tb": tb}, binlog, str(tmp_path / "ckpt"),
        max_files_per_trigger=3, ddl_rows=ddl_rows,
        mq_dir=mq, mq_partitions=4,
        mq_framing="sized", mq_max_batch_size=8,
        mq_max_message_bytes=8 * 1024,
    )
    cf.run_available()

    batch_dirs = sorted(
        os.path.join(mq, d) for d in os.listdir(mq) if d.startswith("batch-")
    )
    msgs = spark.read.option("basePath", batch_dirs[0]).parquet(
        batch_dirs[0] + "/partition=*"
    )
    agg = msgs.agg(
        F.max("n_events"),
        F.max(F.length("key_bytes") + F.length("value_bytes")),
        F.count("*"), F.sum("n_events"),
    ).collect()[0]
    assert agg[0] <= 8 and agg[1] <= 8 * 1024 and agg[2] < agg[3]

    da = LakeTable.create(spark, str(tmp_path / "da"), n_buckets=4)
    db = LakeTable.create(spark, str(tmp_path / "db"), n_buckets=4)
    consumer = MultiMQConsumer(spark, mq, {"ta": da, "tb": db}, framing="sized")
    assert consumer.run_once()
    for up, down in ((ta, da), (tb, db)):
        cols = [f["name"] for f in up.current_fields]
        a = {r["doc_id"]: tuple(
            tuple(v) if isinstance(v, list) else v for v in [r[c] for c in cols])
            for r in up.read().collect()}
        b = {r["doc_id"]: tuple(
            tuple(v) if isinstance(v, list) else v for v in [r[c] for c in cols])
            for r in down.read().collect()}
        assert a == b and len(a) > 0
    assert consumer.run_once() == []


def test_rename_table_mid_stream(spark, tmp_path):
    """In-stream RENAME TABLE (ActionRenameTable = dropTable + createTable,
    schema_storage.go:566-577): events arrive under 'ta' before the rename
    ts and under 'tc' after it; the feed routes both to the same LakeTable,
    a post-rename column DDL addressed to the NEW name continues the same
    schema chain, and the final state equals replaying the un-renamed
    stream directly."""
    import pyarrow as pa

    stage = str(tmp_path / "stage")
    write_binlog(
        BinlogSpec(n_events=6_000, n_keys=600, seed=53, table="ta",
                   p_delete=0.15, p_insert=0.55),
        stage, files_per_part=3,
    )
    ev = pq.read_table(stage)
    lo = pc.min(ev.column("commit_ts")).as_py()
    hi = pc.max(ev.column("commit_ts")).as_py()
    rename_ts = (lo + hi) // 2
    ddl2_ts = rename_ts + (hi - rename_ts) // 2

    binlog = str(tmp_path / "binlog")
    os.makedirs(binlog)
    for i, f in enumerate(sorted(glob.glob(stage + "/*.parquet"))):
        t = pq.read_table(f)
        names = pa.array([
            "tc" if ts > rename_ts else "ta"
            for ts in t.column("commit_ts").to_pylist()
        ])
        idx = t.schema.get_field_index("table")
        pq.write_table(
            t.set_column(idx, "table", names),
            os.path.join(binlog, f"part-{i}.parquet"),
        )

    ddl_rows = [
        {"commit_ts": rename_ts, "ddl_type": "rename_table", "table": "ta",
         "spec": '{"to": "tc"}'},
        # the post-rename chain continues under the NEW name
        {"commit_ts": ddl2_ts, "ddl_type": "add_column", "table": "tc",
         "spec": '{"name":"lang","type":"string"}'},
    ]
    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=4)
    cf = MultiTableChangeFeed(
        {"ta": ta}, binlog, str(tmp_path / "ckpt"),
        max_files_per_trigger=3, ddl_rows=ddl_rows,
    )
    summaries = cf.run_available()
    resolved = summaries[-1]["resolved_ts"]
    assert resolved > rename_ts  # the rename actually materialized
    assert cf.tables["tc"] is ta  # same LakeTable under the new handle
    assert cf.registries["tc"] is cf.registries["ta"]  # one schema chain
    assert ta.schema_version == 1  # the tc-addressed DDL applied

    # final state ≡ replaying the un-renamed stream directly
    expected = apply_binlog(ev, upto_ts=resolved)
    got = _lake_arrow(ta)
    # drop the DDL-added lang column (NULL everywhere) before the diff
    got = got.drop_columns(["lang"]) if "lang" in got.column_names else got
    problems = diff_tables(expected, got)
    assert not problems, problems[:3]


def test_rename_table_rejects_conflicts(spark, tmp_path):
    import pytest

    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=4)
    tb = LakeTable.create(spark, str(tmp_path / "tb"), n_buckets=4)
    with pytest.raises(ValueError, match="already names"):
        MultiTableChangeFeed(
            {"ta": ta, "tb": tb}, str(tmp_path / "b"), str(tmp_path / "c"),
            ddl_rows=[{"commit_ts": 10, "ddl_type": "rename_table",
                       "table": "ta", "spec": '{"to": "tb"}'}],
        )
    with pytest.raises(ValueError, match="not a feed table"):
        MultiTableChangeFeed(
            {"ta": ta}, str(tmp_path / "b"), str(tmp_path / "c2"),
            ddl_rows=[{"commit_ts": 10, "ddl_type": "rename_table",
                       "table": "nope", "spec": '{"to": "tz"}'}],
        )


def test_drop_schema_stops_every_table_under_it(spark, tmp_path):
    """Database-level DDL (schema_storage.go:561-565 ActionDropSchema):
    drop_schema 'db1' stops EVERY feed table named db1.* at its barrier —
    expanded internally to per-table drop_table rows — while other
    schemas' tables replicate to the end. create_schema rows are
    metadata-only and absorbed."""
    stage_a = str(tmp_path / "stage_a")
    stage_b = str(tmp_path / "stage_b")
    write_binlog(BinlogSpec(n_events=4000, n_keys=400, seed=61, table="db1.ta", p_delete=0.15, p_insert=0.55), stage_a, files_per_part=3)
    write_binlog(BinlogSpec(n_events=4000, n_keys=400, seed=62, table="db2.tb", p_delete=0.1, p_insert=0.6), stage_b, files_per_part=3)
    binlog = str(tmp_path / "binlog")
    os.makedirs(binlog)
    for tag, stage in (("a", stage_a), ("b", stage_b)):
        for f in glob.glob(stage + "/*.parquet"):
            os.link(f, os.path.join(binlog, f"{tag}-{os.path.basename(f)}"))
    ev_a = pq.read_table(stage_a)
    ev_b = pq.read_table(stage_b)

    lo = pc.min(ev_a.column("commit_ts")).as_py()
    hi = pc.max(ev_a.column("commit_ts")).as_py()
    drop_ts = lo + (hi - lo) // 2
    ddl_rows = [
        {"commit_ts": lo - 5, "ddl_type": "create_schema", "table": "db1",
         "spec": {}},
        {"commit_ts": drop_ts, "ddl_type": "drop_schema", "table": "db1",
         "spec": {}},
    ]
    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=4)
    tb = LakeTable.create(spark, str(tmp_path / "tb"), n_buckets=4)
    cf = MultiTableChangeFeed(
        {"db1.ta": ta, "db2.tb": tb}, binlog, str(tmp_path / "ckpt"),
        max_files_per_trigger=3, ddl_rows=ddl_rows,
    )
    summaries = cf.run_available()
    resolved = summaries[-1]["resolved_ts"]
    assert resolved > drop_ts

    # db1.ta froze at the schema-drop barrier
    assert cf.dropped.get("db1.ta") == drop_ts
    expected_a = apply_binlog(ev_a, upto_ts=drop_ts)
    assert not diff_tables(expected_a, _lake_arrow(ta))
    # db2.tb replicated to the end
    expected_b = apply_binlog(ev_b, upto_ts=resolved)
    assert not diff_tables(expected_b, _lake_arrow(tb))


def test_multi_feed_with_per_table_derived_shards_and_profile(spark, tmp_path):
    """Per-table derived artifacts under a multi-table feed (the CLI's
    --derived-shards/--derived-profile multi path): each table's shard
    export and profile stay equal to that table's live state after every
    batch, with the other table's traffic interleaved in the same stream."""
    from ticdc_spark.pipeline.profile import IncrementalProfile
    from ticdc_spark.pipeline.shards import IncrementalShards

    binlog, ev_a, ev_b = _mk_two_table_binlog(tmp_path, n=4_000)
    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=4)
    tb = LakeTable.create(spark, str(tmp_path / "tb"), n_buckets=4)
    tables = {"ta": ta, "tb": tb}
    shards = {
        n: IncrementalShards(t, str(tmp_path / "sh" / n), n_shards=2)
        for n, t in tables.items()
    }
    profiles = {
        n: IncrementalProfile(t, "source", ("n_tok",))
        for n, t in tables.items()
    }

    def post(summary):
        for sh in shards.values():
            sh.refresh()
        for pr in profiles.values():
            pr.sync()

    cf = MultiTableChangeFeed(
        tables, binlog, str(tmp_path / "ckpt"),
        max_files_per_trigger=3, post_batch=post,
    )
    summaries = cf.run_available()
    assert len(summaries) >= 2
    for n, t in tables.items():
        assert shards[n].synced_version == t.version, n
        assert shards[n].verify(), n
        assert profiles[n].meta["version"] == t.version, n
        assert profiles[n].verify() == [], n


def _mini_binlog_file(path, rows):
    """rows: (commit_ts, seq, table, op, doc_id, n_tok, part)."""
    import pyarrow as pa

    t = pa.table(
        {
            "commit_ts": pa.array([r[0] for r in rows], pa.int64()),
            "seq": pa.array([r[1] for r in rows], pa.int64()),
            "table": pa.array([r[2] for r in rows], pa.string()),
            "op": pa.array([r[3] for r in rows], pa.string()),
            "doc_id": pa.array([r[4] for r in rows], pa.string()),
            "tokens": pa.array(
                [list(range(r[5])) for r in rows], pa.list_(pa.int32())
            ),
            "n_tok": pa.array([r[5] for r in rows], pa.int32()),
            "source": pa.array(["s" for _ in rows], pa.string()),
            "part": pa.array([r[6] for r in rows], pa.int32()),
            "schema_version": pa.array([0 for _ in rows], pa.int32()),
        }
    )
    pq.write_table(t, path)


def test_cross_table_tail_collision_keeps_both_rows(spark, tmp_path):
    """Two tables' events colliding on (commit_ts, seq, op, doc_id) must BOTH
    survive the pending tail — the dedup key includes `table` (regression:
    the single-table key collapsed them and one table lost its event)."""
    binlog = str(tmp_path / "binlog")
    os.makedirs(binlog)
    # batch 1: identical (ts=100, seq=1, U, doc_1) for ta AND tb on part 0;
    # part 1 unseen -> frontier held at -1, both rows ride the tail
    _mini_binlog_file(
        os.path.join(binlog, "f0.parquet"),
        [
            (100, 1, "ta", "U", "doc_1", 3, 0),
            (100, 1, "tb", "U", "doc_1", 5, 0),
        ],
    )
    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=2)
    tb = LakeTable.create(spark, str(tmp_path / "tb"), n_buckets=2)
    cf = MultiTableChangeFeed(
        {"ta": ta, "tb": tb}, binlog, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, n_parts=2,
    )
    cf.run_available()
    assert ta.read().count() == 0 and tb.read().count() == 0  # all tail
    # batch 2: part 1 reports on both tables -> frontier releases ts<=100
    _mini_binlog_file(
        os.path.join(binlog, "f1.parquet"),
        [
            (150, 2, "ta", "U", "doc_x", 1, 1),
            (150, 2, "tb", "U", "doc_x", 1, 1),
        ],
    )
    cf2 = MultiTableChangeFeed(
        {"ta": LakeTable(spark, str(tmp_path / "ta")),
         "tb": LakeTable(spark, str(tmp_path / "tb"))},
        binlog, str(tmp_path / "ckpt"), max_files_per_trigger=1, n_parts=2,
    )
    cf2.run_available()
    # frontier = min(part0=100, part1=150) = 100 -> the ts<=100 tail released
    a = {r["doc_id"]: r["n_tok"] for r in LakeTable(spark, str(tmp_path / "ta")).read().collect()}
    b = {r["doc_id"]: r["n_tok"] for r in LakeTable(spark, str(tmp_path / "tb")).read().collect()}
    assert a.get("doc_1") == 3, a  # ta's colliding event survived
    assert b.get("doc_1") == 5, b  # tb's colliding event survived


def test_late_event_error_names_the_data_ddl_reason(spark, tmp_path):
    """Late events are fatal in a multi-table feed that carries a
    data-wiping DDL (no old value): the error names THAT requirement, not
    enable-old-value."""
    import pytest

    binlog = str(tmp_path / "binlog")
    os.makedirs(binlog)

    def stage(rows, fname):
        # rows: (commit_ts, seq, op, doc_id), all on table ta, part 0
        pq.write_table(pa.table({
            "commit_ts": pa.array([r[0] for r in rows], pa.int64()),
            "seq": pa.array([r[1] for r in rows], pa.int64()),
            "table": pa.array(["ta"] * len(rows), pa.string()),
            "op": pa.array([r[2] for r in rows], pa.string()),
            "doc_id": pa.array([r[3] for r in rows], pa.string()),
            "tokens": pa.array([[1, 2]] * len(rows), pa.list_(pa.int32())),
            "n_tok": pa.array([2] * len(rows), pa.int32()),
            "source": pa.array(["web"] * len(rows), pa.string()),
            "part": pa.array([0] * len(rows), pa.int32()),
            "schema_version": pa.array([0] * len(rows), pa.int32()),
        }), os.path.join(binlog, fname))

    ta = LakeTable.create(spark, str(tmp_path / "ta"), n_buckets=2)
    ddl_rows = [{"commit_ts": 10_000, "ddl_type": "truncate_table",
                 "table": "ta", "spec": "{}"}]

    def feed():
        return MultiTableChangeFeed(
            {"ta": ta}, binlog, str(tmp_path / "ckpt"),
            max_files_per_trigger=1, ddl_rows=ddl_rows,
        )

    stage([(100, 1, "I", "a"), (200, 2, "I", "b")], "f1.parquet")
    assert feed().run_available()[-1]["resolved_ts"] == 200
    stage([(150, 3, "U", "a")], "f2.parquet")  # at or below ta's span frontier
    with pytest.raises(Exception, match="late-event") as err:
        feed().run_available()
    assert "required by barrier-ordered data DDL" in str(err.value)
    assert "enable-old-value" not in str(err.value)
