"""MQ wire-protocol dispatch — the `protocol=` sink-uri option
(cdc/sink/mq.go:356-378 newMqSink → codec selection), shared by the
single-table ChangeFeed, the MultiTableChangeFeed, and both consumers.

Every protocol's batch layout keeps the open-JSON `key_json` column (the
Kafka message-key + metadata analog: identity, ordering, table routing) and
the dispatch `partition` column; only the VALUE encoding varies:

  open        value_json  open-protocol after-image JSON (null for deletes)
  canal-json  value_json  canal-flat JSON (all-strings column map)
  maxwell     value_json  maxwell JSON (native JSON value types)
  avro        avro_key/avro_value  Confluent-envelope binary Avro
  canal-pb    entry_bytes          canal protobuf Entry (proto3 wire)

Meta messages (resolved broadcast, DDL) stay open-JSON on every protocol —
the reference carries them out-of-band there too (avro: schema registry;
canal: no watermark concept).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PROTOCOLS = ("open", "canal-json", "maxwell", "avro", "canal-pb")


def check_protocol(protocol: str) -> str:
    if protocol not in PROTOCOLS:
        raise ValueError(f"unknown mq protocol {protocol!r} (choose from {PROTOCOLS})")
    return protocol


def encode_mq(
    sl: DataFrame,
    table,
    protocol: str,
    key_json,
    part_col,
    avro_registry=None,
    old_value: bool = False,
) -> DataFrame:
    """Encode one table's released prefix for the MQ batch. sl must carry
    (commit_ts, seq, table, op, <key>, <payload...>) at the table's CURRENT
    (batch-final) schema. Output schema depends only on the protocol, so
    multi-table emissions union per-table encodes directly.

    old_value: sl additionally carries old_<col>/had_old (see
    feed.attach_old_images). open emits them as an `old_json` column
    (the open-protocol "p" pre-image analog); maxwell as its `old` map.

    Every branch also passes (_ots, _oseq) = (commit_ts, seq) through: the
    writer sorts within each MQ partition on them before dropping them, so
    a consumer reading a partition sequentially sees commit order — the
    reference's per-partition delivery-order contract (Kafka append order =
    the sink's send order, mq.go flushes rows per partition in ts order)."""
    key = table.key_col
    payload_cols = [f["name"] for f in table.current_fields if f["name"] != key]
    order_cols = [F.col("commit_ts").alias("_ots"), F.col("seq").alias("_oseq")]
    if protocol == "open":
        val = F.when(
            F.col("op") != "D",
            F.to_json(F.struct(*[F.col(c) for c in payload_cols])),
        ).alias("value_json")
        cols = [key_json, val, part_col.alias("partition")]
        if old_value:
            cols.append(
                F.when(
                    F.col("had_old"),
                    F.to_json(
                        F.struct(*[F.col(f"old_{c}").alias(c) for c in payload_cols])
                    ),
                ).alias("old_json")
            )
        return sl.select(*cols, *order_cols)
    if protocol == "maxwell" and old_value:
        from ..functions.codec import maxwell_value_col

        return sl.select(
            key_json,
            maxwell_value_col(payload_cols, with_old=True).alias("value_json"),
            part_col.alias("partition"),
            *order_cols,
        )
    if protocol == "canal-json":
        from ..functions.codec import _is_complex_type, canal_flat_value_col

        cx = {f["name"] for f in table.current_fields if _is_complex_type(f["type"])}
        return sl.select(
            key_json,
            canal_flat_value_col(
                payload_cols, complex_cols=cx, with_old=old_value
            ).alias("value_json"),
            part_col.alias("partition"),
            *order_cols,
        )
    if protocol == "maxwell":
        from ..functions.codec import maxwell_value_col

        return sl.select(
            key_json,
            maxwell_value_col(payload_cols).alias("value_json"),
            part_col.alias("partition"),
            *order_cols,
        )
    base = sl.select(
        "commit_ts", "seq", "table", "op", key_json, part_col.alias("partition"),
        key, *payload_cols, *order_cols,
    )
    if protocol == "avro":
        from ..functions.avro_codec import encode_avro

        return encode_avro(
            base,
            table.current_fields,
            table=table.root.rstrip("/").rsplit("/", 1)[-1],
            registry=avro_registry,
            handle_key=key,
            passthrough=["key_json", "partition", "_ots", "_oseq"],
        )
    # canal-pb
    from ..functions.canal_proto import encode_canal_entries

    payload_types = [
        (f["name"], f["type"]) for f in table.current_fields if f["name"] != key
    ]
    return encode_canal_entries(
        base, payload_types, key_col=key,
        passthrough=["key_json", "partition", "_ots", "_oseq"],
    )


def decode_mq(msgs: DataFrame, table, protocol: str) -> DataFrame:
    """Decode one table's data messages back into typed change rows
    (commit_ts, seq, table, op, <key>, <payload...>) at the consumer's
    CURRENT (post-batch-DDL) schema — the emitter encodes each batch at its
    batch-final schema, so the two agree."""
    key = table.key_col
    fields = table.current_fields
    payload_schema = T.StructType(
        [
            T.StructField(f["name"], T._parse_datatype_string(f["type"]))
            for f in fields
            if f["name"] != key
        ]
    )
    if protocol == "open":
        from ..functions.codec import decode_open_protocol

        return decode_open_protocol(msgs.select("key_json", "value_json"), payload_schema)
    if protocol == "canal-json":
        from ..functions.codec import decode_canal_flat

        types = {f["name"]: f["type"] for f in fields if f["name"] != key}
        return decode_canal_flat(
            msgs.select(F.col("value_json").alias("canal_json")), types
        )
    if protocol == "maxwell":
        from ..functions.codec import decode_maxwell

        return decode_maxwell(
            msgs.select(F.col("value_json").alias("maxwell_json")), payload_schema
        )
    if protocol == "avro":
        from ..functions.avro_codec import decode_avro

        return decode_avro(
            msgs.select("commit_ts", "seq", "table", "op", "avro_key", "avro_value"),
            fields,
            handle_key=key,
        )
    # canal-pb
    from ..functions.canal_proto import decode_canal_entries

    payload_types = [(f["name"], f["type"]) for f in fields if f["name"] != key]
    dec = decode_canal_entries(
        msgs.select("commit_ts", "seq", "table", "op", "entry_bytes"),
        payload_types,
        key_col=key,
    )
    return dec.select(
        "commit_ts", "seq", "table", "op", key, *[n for n, _ in payload_types]
    )
