"""MQ consumer — replays emitted open-protocol messages into a downstream
lake table (the kafka_consumer analog, kafka_consumer/main.go:531-586):

  * per MQ batch: decode (key_json, value_json) → typed change rows
  * frontier = the batch's broadcast resolved-ts (consumer-side rule: take
    min over partitions — ours broadcasts one value to every partition, so
    the min IS that value)
  * apply rows ≤ frontier with the same LWW collapse + idempotent merge the
    primary sink uses (epoch id = the MQ batch name, so a re-consumed batch
    is a no-op)

Result: downstream state == upstream state at the consumer's frontier —
TiCDC's MQ-pipeline consistency contract, testable table-vs-table.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lake.table import LakeTable
from ..operators.lww import lww_latest_semijoin


class MQConsumer:
    def __init__(
        self,
        spark,
        mq_dir: str,
        table: LakeTable,
        protocol: str = "open",
        framing: str = "row",
    ):
        if protocol not in ("open", "canal-json", "maxwell", "avro", "canal-pb"):
            raise ValueError(f"unknown protocol {protocol!r}")
        if framing not in ("row", "sized"):
            raise ValueError(f"unknown framing {framing!r}")
        if framing == "sized" and protocol != "open":
            raise ValueError("framing='sized' is open-protocol v1 specific")
        self.spark = spark
        self.mq_dir = mq_dir
        self.table = table
        self.protocol = protocol
        self.framing = framing

    def _payload_schema(self) -> T.StructType:
        key = self.table.key_col
        return T.StructType(
            [
                T.StructField(f["name"], T._parse_datatype_string(f["type"]))
                for f in self.table.current_fields
                if f["name"] != key
            ]
        )

    def _decode(self, msgs):
        """Decode one batch's data messages per the feed's protocol into
        typed change rows (commit_ts, seq, op, key, payload...). Always
        decodes at THIS consumer's current (post-batch-DDL) schema — the
        emitter encodes each batch at its batch-final schema, so the two
        agree (see _emit_mq)."""
        from .protocols import decode_mq

        return decode_mq(msgs, self.table, self.protocol)

    def run_once(self) -> list[dict]:
        """Consume every MQ batch not yet applied, in order."""
        stats = []
        if not os.path.isdir(self.mq_dir):
            return stats
        for name in sorted(os.listdir(self.mq_dir)):
            if not name.startswith("batch-"):
                continue
            # fast path: batches without truncates mark completion as
            # mq-<name>; truncate batches re-check after parsing their DDLs
            if f"mq-{name}" in self.table.committed_epochs:
                continue
            bdir = os.path.join(self.mq_dir, name)
            res = self.spark.read.parquet(os.path.join(bdir, "resolved.parquet"))
            frontier = (
                res.select(
                    F.get_json_object("key_json", "$.ts").cast("long").alias("ts")
                )
                .agg(F.min("ts"))  # min over partitions (main.go:531-544)
                .collect()[0][0]
            )
            # DDL messages first (consumer mirror of the barrier rule,
            # main.go:545-569: flush DML ≤ ddl ts, exec DDL, pop — our batch
            # was emitted AT the batch-final schema, so applying the batch's
            # DDLs up-front reproduces the same projection)
            import glob as g
            import json as j

            from .feed import advance_lake_schema

            ddl_msgs = []
            for ddl_file in g.glob(os.path.join(bdir, "ddl-*.parquet")):
                row = self.spark.read.parquet(ddl_file).collect()[0]
                ddl_msgs.append((j.loads(row["key_json"])["ts"], row))
            # order by the PARSED ts, not the filename — lexicographic file
            # order would apply ddl-100 before ddl-99 on unpadded names
            truncs = []
            for ts, row in sorted(ddl_msgs, key=lambda x: x[0]):
                if ts > frontier:
                    # the batch's epoch commits exactly once, so a skipped
                    # DDL would be lost forever — fail loudly (emission
                    # bounds ddl ts <= resolved; this is a producer bug)
                    raise RuntimeError(
                        f"DDL at ts={ts} exceeds batch frontier {frontier}: "
                        f"applying the batch would lose the DDL ({name})"
                    )
                val = j.loads(row["value_json"])
                kind = val.get("ddl_type")
                if kind in (
                    "truncate_table", "drop_partition", "truncate_partition"
                ):
                    # DATA operations, not projection changes: they must
                    # execute BETWEEN the batch's DML ranges (below), not
                    # up-front — an up-front wipe/delete would let earlier
                    # events re-appear downstream, and a late one would eat
                    # post-barrier rows
                    truncs.append((ts, kind, val.get("spec") or {}))
                    continue
                if kind == "add_partition":
                    continue  # no data effect, no projection change
                advance_lake_schema(self.table, val["fields"], f"mq-ddl-{ts}")
            # idempotence marker: the LAST thing this batch commits
            epoch_id = f"mq-{name}" if not truncs else f"mq-{name}-s{len(truncs)}"
            if epoch_id in self.table.committed_epochs:
                continue
            msgs = self.spark.read.option("basePath", bdir).parquet(
                os.path.join(bdir, "partition=*")
            )
            if self.framing == "sized":
                # batch-framed wire form: unframe each message back to the
                # per-event (key_json, value_json) view, then decode as usual
                from ..functions.codec import unframe_messages

                msgs = unframe_messages(msgs)
            dec = self._decode(msgs).filter(F.col("commit_ts") <= F.lit(frontier))
            key = self.table.key_col
            payload = [
                f["name"] for f in self.table.current_fields if f["name"] != key
            ]
            rows = dec.select(key, "op", "commit_ts", "seq", *payload)
            by_ts = {ts: (kind, spec) for ts, kind, spec in truncs}
            bounds = [None, *[ts for ts, _, _ in truncs], None]
            n_slices = len(bounds) - 1
            st = {}
            for k in range(n_slices):
                lo, hi = bounds[k], bounds[k + 1]
                sl = rows
                if lo is not None:
                    sl = sl.filter(F.col("commit_ts") > F.lit(lo))
                if hi is not None:
                    sl = sl.filter(F.col("commit_ts") <= F.lit(hi))
                eid = f"mq-{name}" if n_slices == 1 else f"mq-{name}-s{k}"
                st = self.table.merge_epoch(
                    lww_latest_semijoin(sl, [key]), eid, assume_deduped=True
                )
                if hi is not None:
                    k_kind, k_spec = by_ts[hi]
                    if k_kind == "truncate_table":
                        self.table.update_schema(
                            "truncate_table", {}, f"mq-ddl-trunc-{hi}"
                        )
                    else:
                        self.table.delete_where(
                            k_spec["where"], hi, f"mq-ddl-part-{hi}#del"
                        )
                        self.table.update_schema(
                            k_kind, k_spec, f"mq-ddl-part-{hi}"
                        )
            stats.append({"batch": name, "frontier": frontier, **st})
        return stats


class MultiMQConsumer:
    """Multi-table MQ consumer: one batch dir carries every table's
    messages (routed there by the dispatcher switcher); rows come back to
    their table via the key_json `table` field, DDL messages via their key's
    `table` field. Per-(table, batch) epoch ids keep re-consumption a no-op
    per table independently."""

    def __init__(
        self,
        spark,
        mq_dir: str,
        tables: dict[str, "LakeTable"],
        protocol: str = "open",
        framing: str = "row",
    ):
        from .protocols import check_protocol

        self.spark = spark
        self.mq_dir = mq_dir
        self.tables = dict(tables)
        self.protocol = check_protocol(protocol)
        if framing not in ("row", "sized"):
            raise ValueError(f"unknown framing {framing!r}")
        if framing == "sized" and protocol != "open":
            raise ValueError("framing='sized' is open-protocol v1 specific")
        self.framing = framing

    def _payload_schema(self, table: LakeTable) -> T.StructType:
        key = table.key_col
        return T.StructType(
            [
                T.StructField(f["name"], T._parse_datatype_string(f["type"]))
                for f in table.current_fields
                if f["name"] != key
            ]
        )

    def run_once(self) -> list[dict]:
        import glob as g
        import json as j

        from .feed import advance_lake_schema

        stats = []
        if not os.path.isdir(self.mq_dir):
            return stats
        for name in sorted(os.listdir(self.mq_dir)):
            if not name.startswith("batch-"):
                continue
            bdir = os.path.join(self.mq_dir, name)
            res = self.spark.read.parquet(os.path.join(bdir, "resolved.parquet"))
            frontier = (
                res.select(
                    F.get_json_object("key_json", "$.ts").cast("long").alias("ts")
                )
                .agg(F.min("ts"))
                .collect()[0][0]
            )
            ddl_msgs = []
            for ddl_file in g.glob(os.path.join(bdir, "ddl-*.parquet")):
                row = self.spark.read.parquet(ddl_file).collect()[0]
                k = j.loads(row["key_json"])
                ddl_msgs.append((k["ts"], k["table"], row))
            truncs: dict[str, list[int]] = {}
            for ts, tname, row in sorted(ddl_msgs, key=lambda x: x[0]):
                if ts > frontier:
                    raise RuntimeError(
                        f"DDL at ts={ts} exceeds batch frontier {frontier} ({name})"
                    )
                if tname not in self.tables:
                    continue
                val = j.loads(row["value_json"])
                kind = val.get("ddl_type")
                if kind in (
                    "truncate_table", "drop_partition", "truncate_partition"
                ):
                    # data operations — ordered against the table's DML
                    # slices below, not applied up-front (see MQConsumer)
                    truncs.setdefault(tname, []).append(
                        (ts, kind, val.get("spec") or {})
                    )
                    continue
                if kind == "add_partition":
                    continue
                advance_lake_schema(
                    self.tables[tname], val["fields"], f"mq-ddl-{tname}-{ts}"
                )
            msgs = self.spark.read.option("basePath", bdir).parquet(
                os.path.join(bdir, "partition=*")
            )
            if self.framing == "sized":
                # a topic partition's frames interleave EVERY table's events
                # (the reference's multi-table-per-topic layout); unframe
                # once, then the per-table key_json routing below is
                # unchanged
                from ..functions.codec import unframe_messages

                msgs = unframe_messages(msgs)
            for tname, table in self.tables.items():
                tt = truncs.get(tname, [])
                epoch_id = (
                    f"mq-{tname}-{name}" if not tt else f"mq-{tname}-{name}-s{len(tt)}"
                )
                if epoch_id in table.committed_epochs:
                    continue
                from .protocols import decode_mq

                mine = msgs.filter(
                    F.get_json_object("key_json", "$.table") == F.lit(tname)
                )
                dec = decode_mq(mine, table, self.protocol).filter(
                    F.col("commit_ts") <= F.lit(frontier)
                )
                key = table.key_col
                payload = [
                    f["name"] for f in table.current_fields if f["name"] != key
                ]
                rows = dec.select(key, "op", "commit_ts", "seq", *payload)
                by_ts = {ts: (kind, spec) for ts, kind, spec in tt}
                bounds = [None, *[ts for ts, _, _ in tt], None]
                st = {}
                for k2 in range(len(bounds) - 1):
                    lo, hi = bounds[k2], bounds[k2 + 1]
                    sl = rows
                    if lo is not None:
                        sl = sl.filter(F.col("commit_ts") > F.lit(lo))
                    if hi is not None:
                        sl = sl.filter(F.col("commit_ts") <= F.lit(hi))
                    eid = (
                        f"mq-{tname}-{name}"
                        if len(bounds) == 2
                        else f"mq-{tname}-{name}-s{k2}"
                    )
                    st = table.merge_epoch(
                        lww_latest_semijoin(sl, [key]), eid, assume_deduped=True
                    )
                    if hi is not None:
                        k_kind, k_spec = by_ts[hi]
                        if k_kind == "truncate_table":
                            table.update_schema(
                                "truncate_table", {},
                                f"mq-ddl-trunc-{tname}-{hi}",
                            )
                        else:
                            table.delete_where(
                                k_spec["where"], hi,
                                f"mq-ddl-part-{tname}-{hi}#del",
                            )
                            table.update_schema(
                                k_kind, k_spec, f"mq-ddl-part-{tname}-{hi}"
                            )
                stats.append(
                    {"batch": name, "table": tname, "frontier": frontier, **st}
                )
        return stats
