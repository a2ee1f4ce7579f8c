"""Round-2 hardening regressions (ADVICE.md findings):

1. MQ DDL files apply in PARSED-ts order (and are emitted zero-padded) —
   lexicographic filename order applied ddl-100 before ddl-99.
2. Raw-mode MQ emission re-encodes payloads at the batch-final schema, so a
   rename DDL no longer NULLs old-name keys at the consumer.
3. Slice boundaries / epoch ids are stable across a crash between a DDL
   schema commit and the following slice's merge (no silent event loss).
4. schema_version contract violations (stamped above version_at(commit_ts))
   fail loudly instead of being dropped by the mounter's version hint.
5. A consumer-side DDL beyond the batch frontier raises (it would be lost
   forever once the batch epoch commits).
"""

import json
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from ticdc_spark.lake.table import LakeTable
from ticdc_spark.oracle import apply_binlog_raw, diff_tables
from ticdc_spark.streaming.changefeed import ChangeFeed
from ticdc_spark.streaming.consumer import MQConsumer
from ticdc_spark.streaming.multi import MultiTableChangeFeed
from ticdc_spark.testgen import BinlogSpec, binlog_to_raw, generate_binlog, write_raw_binlog

BASE = [
    {"id": 1, "name": "doc_id", "type": "string"},
    {"id": 2, "name": "tokens", "type": "array<int>"},
    {"id": 3, "name": "n_tok", "type": "int"},
    {"id": 4, "name": "source", "type": "string"},
]


def _mid_ddls(typed):
    lo = pc.min(typed.column("commit_ts")).as_py()
    hi = pc.max(typed.column("commit_ts")).as_py()
    q = (hi - lo) // 4
    return [
        (lo + q, "add_column", {"name": "lang", "type": "string"}),
        (lo + 3 * q, "rename_column", {"from": "source", "to": "origin"}),
    ]


def test_raw_mq_rename_ddl_converges(spark, tmp_path):
    """Raw-mode feed with add+rename DDLs → MQ → consumer: downstream table
    state AND schema must equal the primary sink's (pre-fix, the passthrough
    payload decoded old-name keys to NULL after the rename)."""
    spec = BinlogSpec(n_events=6_000, n_keys=600, seed=91, p_delete=0.1, p_insert=0.6)
    typed = generate_binlog(spec)
    ddls = _mid_ddls(typed)
    raw = binlog_to_raw(typed, ddls)
    write_raw_binlog(raw, str(tmp_path / "binlog"), n_files=4)

    mq = str(tmp_path / "mq")
    t1 = LakeTable.create(spark, str(tmp_path / "tbl"), n_buckets=4)
    cf = ChangeFeed(
        t1,
        str(tmp_path / "binlog"),
        str(tmp_path / "ckpt"),
        mode="raw",
        ddl_rows=[{"commit_ts": ts, "ddl_type": ty, "spec": s} for ts, ty, s in ddls],
        max_files_per_trigger=2,
        mq_dir=mq,
        mq_partitions=4,
    )
    cf.run_available()
    assert t1.schema_version == 2

    # emitted DDL filenames are zero-padded (lexicographic == numeric order)
    import glob as g

    names = [os.path.basename(p) for p in g.glob(os.path.join(mq, "batch-*", "ddl-*.parquet"))]
    assert names and all(len(n) == len("ddl-") + 20 + len(".parquet") for n in names)

    t2 = LakeTable.create(spark, str(tmp_path / "down"), n_buckets=4)
    stats = MQConsumer(spark, mq, t2).run_once()
    assert stats
    assert [f["name"] for f in t2.current_fields] == [f["name"] for f in t1.current_fields]
    a = {r["doc_id"]: (list(r["tokens"]), r["n_tok"], r["origin"], r["lang"])
         for r in t1.read().collect()}
    b = {r["doc_id"]: (list(r["tokens"]), r["n_tok"], r["origin"], r["lang"])
         for r in t2.read().collect()}
    assert a == b and len(a) > 0
    # the rename must not have nulled the renamed column downstream
    assert any(v[2] is not None for v in b.values())


def _mk_batch_dir(tmp_path, frontier, ddl_files):
    """Handcraft one MQ batch dir: a resolved broadcast, the given DDL
    files (name → (ts, fields)), and one data message."""
    bdir = tmp_path / "mq" / "batch-0000000000"
    os.makedirs(bdir / "partition=0")
    pq.write_table(
        pa.table({
            "partition": pa.array([0], pa.int32()),
            "key_json": pa.array([json.dumps({"ts": frontier, "type": "resolved"})]),
        }),
        str(bdir / "resolved.parquet"),
    )
    for fname, (ts, fields) in ddl_files.items():
        pq.write_table(
            pa.table({
                "key_json": pa.array([json.dumps({"ts": ts, "type": "ddl"})]),
                "value_json": pa.array([json.dumps({"fields": fields})]),
            }),
            str(bdir / fname),
        )
    msg_key = json.dumps(
        {"commit_ts": 50, "seq": 1, "table": "t", "op": "I", "doc_id": "d1"}
    )
    final_fields = max(ddl_files.values(), key=lambda x: x[0])[1] if ddl_files else BASE
    payload = {}
    for f in final_fields:
        if f["name"] == "doc_id":
            continue
        payload[f["name"]] = [1, 2] if f["type"].startswith("array") else (
            3 if "int" in f["type"] else "x")
    pq.write_table(
        pa.table({
            "key_json": pa.array([msg_key]),
            "value_json": pa.array([json.dumps(payload)]),
        }),
        str(bdir / "partition=0" / "part-0.parquet"),
    )
    return str(tmp_path / "mq")


def _v1_v2_fields():
    v1 = [dict(f) for f in BASE] + [{"id": 5, "name": "lang", "type": "string"}]
    v2 = [dict(f) for f in v1]
    v2[3] = {"id": 4, "name": "origin", "type": "string"}
    return v1, v2


def test_consumer_applies_ddls_in_parsed_ts_order(spark, tmp_path):
    """Legacy/unpadded DDL filenames where lexicographic order is WRONG
    (ddl-100 < ddl-99): the consumer must still apply by parsed ts, ending
    at the ts=100 schema (pre-fix it ended at the ts=99 schema)."""
    v1, v2 = _v1_v2_fields()
    mq = _mk_batch_dir(
        tmp_path, frontier=200,
        ddl_files={"ddl-99.parquet": (99, v1), "ddl-100.parquet": (100, v2)},
    )
    t = LakeTable.create(spark, str(tmp_path / "tbl"), n_buckets=2)
    stats = MQConsumer(spark, mq, t).run_once()
    assert stats and stats[0]["committed"]
    assert [f["name"] for f in t.current_fields] == [
        "doc_id", "tokens", "n_tok", "origin", "lang"
    ]
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0]["origin"] == "x" and rows[0]["lang"] == "x"


def test_consumer_raises_on_ddl_beyond_frontier(spark, tmp_path):
    v1, _ = _v1_v2_fields()
    mq = _mk_batch_dir(
        tmp_path, frontier=200, ddl_files={"ddl-500.parquet": (500, v1)}
    )
    t = LakeTable.create(spark, str(tmp_path / "tbl"), n_buckets=2)
    with pytest.raises(RuntimeError, match="exceeds batch frontier"):
        MQConsumer(spark, mq, t).run_once()
    # nothing committed — the batch can be retried after the producer fix
    assert not t.committed_epochs


def _crash_after_ddl(feed_cls):
    """feed_cls with a driver crash BETWEEN a DDL's schema commit and the
    next slice's merge — the exact window ADVICE.md flagged — hooked on the
    barrier step both feeds share."""

    class CrashAfterDDL(feed_cls):
        def _execute_barrier(self, *args):
            super()._execute_barrier(*args)
            raise RuntimeError("simulated crash after DDL schema commit")

    return CrashAfterDDL


def _open_feed(feed_cls, t, tmp_path, ddl_rows):
    if issubclass(feed_cls, MultiTableChangeFeed):
        return feed_cls(
            {"target_tokens": t}, str(tmp_path / "binlog"), str(tmp_path / "ckpt"),
            mode="raw", ddl_rows=[{**r, "table": "target_tokens"} for r in ddl_rows],
        )
    return feed_cls(
        t, str(tmp_path / "binlog"), str(tmp_path / "ckpt"),
        mode="raw", ddl_rows=ddl_rows,
    )


@pytest.mark.parametrize(
    "feed_cls", [ChangeFeed, MultiTableChangeFeed], ids=["ChangeFeed", "MultiTableChangeFeed"]
)
def test_crash_replay_between_ddl_commit_and_next_slice(spark, tmp_path, feed_cls):
    spec = BinlogSpec(n_events=5_000, n_keys=500, seed=92, p_delete=0.12, p_insert=0.58)
    typed = generate_binlog(spec)
    lo = pc.min(typed.column("commit_ts")).as_py()
    hi = pc.max(typed.column("commit_ts")).as_py()
    ddls = [(lo + (hi - lo) // 2, "add_column", {"name": "lang", "type": "string"})]
    raw = binlog_to_raw(typed, ddls)
    write_raw_binlog(raw, str(tmp_path / "binlog"), n_files=2)
    ddl_rows = [{"commit_ts": ts, "ddl_type": ty, "spec": s} for ts, ty, s in ddls]

    t = LakeTable.create(spark, str(tmp_path / "tbl"), n_buckets=4)
    crashing = _open_feed(_crash_after_ddl(feed_cls), t, tmp_path, ddl_rows)
    with pytest.raises(Exception, match="simulated crash"):
        crashing.run_available()
    assert t.schema_version == 1  # DDL committed before the crash

    # restart: same checkpoint → Structured Streaming replays the batch
    t = LakeTable(spark, str(tmp_path / "tbl"))
    summaries = _open_feed(feed_cls, t, tmp_path, ddl_rows).run_available()
    resolved = summaries[-1]["resolved_ts"]
    expected = apply_binlog_raw(raw, BASE, ddls, upto_ts=resolved)
    pdf = t.read().toPandas().sort_values("doc_id").reset_index(drop=True)
    actual = pa.table({
        "doc_id": pa.array(pdf["doc_id"], pa.string()),
        "tokens": pa.array(
            [None if x is None else list(x) for x in pdf["tokens"]], pa.list_(pa.int32())
        ),
        "n_tok": pa.array(pdf["n_tok"], pa.int64()),
        "source": pa.array(pdf["source"], pa.string()),
        "lang": pa.array(pdf["lang"], pa.string()),
    })
    problems = diff_tables(expected, actual)
    assert not problems, problems[:3]


def test_schema_version_violation_raises(spark, tmp_path):
    """Rows stamped with a schema_version ABOVE version_at(commit_ts) would
    be silently dropped by the mounter's version hint — the feed must fail
    loudly instead."""
    spec = BinlogSpec(n_events=2_000, n_keys=200, seed=93)
    typed = generate_binlog(spec)
    lo = pc.min(typed.column("commit_ts")).as_py()
    hi = pc.max(typed.column("commit_ts")).as_py()
    ddls = [(lo + (hi - lo) // 2, "add_column", {"name": "lang", "type": "string"})]
    raw = binlog_to_raw(typed, ddls)
    # tamper: stamp every row at a FUTURE version
    idx = raw.schema.get_field_index("schema_version")
    raw = raw.set_column(
        idx, "schema_version", pa.array([7] * len(raw), pa.int32())
    )
    write_raw_binlog(raw, str(tmp_path / "binlog"), n_files=1)
    t = LakeTable.create(spark, str(tmp_path / "tbl"), n_buckets=2)
    cf = ChangeFeed(
        t, str(tmp_path / "binlog"), str(tmp_path / "ckpt"), mode="raw",
        ddl_rows=[{"commit_ts": ts, "ddl_type": ty, "spec": s} for ts, ty, s in ddls],
    )
    with pytest.raises(Exception, match="schema_version contract"):
        cf.run_available()
