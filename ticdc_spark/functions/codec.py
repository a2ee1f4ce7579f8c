"""Open-Protocol-style JSON codec (SURVEY.md §2.9).

Reference: cdc/sink/codec/json.go:127-234 — each change event serializes to
a key JSON {ts, schema, table, type} and a value JSON of column maps; the
decoder reverses it. Our engine's internal format is columnar parquet, but
the MQ-sink surface still needs a row codec; here it's one `to_json` /
`from_json` pair — JVM-side, codegen'd, no Python.

encode → (key_json string, value_json string); decode(schema) reverses.
Deletes carry a null value payload (json.go delete case; delete ⟺ empty
after-image, cdc/model/sink.go:238-240).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

KEY_FIELDS = ["commit_ts", "seq", "table", "op", "doc_id"]


def encode_open_protocol(df: DataFrame, payload_cols: list[str]) -> DataFrame:
    """Rows → (key_json, value_json). Key carries identity+ordering; value
    carries the after-image (null for deletes)."""
    key = F.to_json(F.struct(*[F.col(c) for c in KEY_FIELDS]))
    val = F.when(
        F.col("op") != "D", F.to_json(F.struct(*[F.col(c) for c in payload_cols]))
    )
    return df.select(key.alias("key_json"), val.alias("value_json"))


def decode_open_protocol(df: DataFrame, payload_schema: T.StructType) -> DataFrame:
    """(key_json, value_json) → typed change rows."""
    key_schema = T.StructType(
        [
            T.StructField("commit_ts", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("table", T.StringType()),
            T.StructField("op", T.StringType()),
            T.StructField("doc_id", T.StringType()),
        ]
    )
    out = df.select(
        F.from_json("key_json", key_schema).alias("_k"),
        F.from_json("value_json", payload_schema).alias("_v"),
    )
    return out.select("_k.*", "_v.*")


def encode_open_protocol_resolved(df: DataFrame) -> DataFrame:
    """Resolved-ts watermark messages (cdc/sink/codec/json.go:332-369): the
    MQ sink broadcasts `{ts, type:resolved}` keys with an EMPTY value to
    every partition so consumers can advance their frontier. Input: rows
    with a `resolved_ts` column (one per partition broadcast target)."""
    key = F.to_json(
        F.struct(
            F.col("resolved_ts").alias("ts"), F.lit("resolved").alias("type")
        )
    )
    return df.select(key.alias("key_json"), F.lit(None).cast("string").alias("value_json"))


def encode_open_protocol_ddl(df: DataFrame) -> DataFrame:
    """DDL messages (cdc/sink/codec/json.go:425-446): key carries ts+type,
    value carries the DDL query/spec. Input: DDL_SCHEMA rows
    (commit_ts, ddl_type, table, spec)."""
    key = F.to_json(
        F.struct(F.col("commit_ts").alias("ts"), F.lit("ddl").alias("type"), F.col("table"))
    )
    val = F.to_json(F.struct(F.col("ddl_type"), F.col("spec")))
    return df.select(key.alias("key_json"), val.alias("value_json"))


def decode_open_protocol_ddl(df: DataFrame) -> DataFrame:
    key_schema = T.StructType(
        [
            T.StructField("ts", T.LongType()),
            T.StructField("type", T.StringType()),
            T.StructField("table", T.StringType()),
        ]
    )
    val_schema = T.StructType(
        [T.StructField("ddl_type", T.StringType()), T.StructField("spec", T.StringType())]
    )
    out = df.select(
        F.from_json("key_json", key_schema).alias("_k"),
        F.from_json("value_json", val_schema).alias("_v"),
    )
    return out.select(
        F.col("_k.ts").alias("commit_ts"),
        F.col("_v.ddl_type").alias("ddl_type"),
        F.col("_k.table").alias("table"),
        F.col("_v.spec").alias("spec"),
    )


# ---------------------------------------------------------------------------
# Canal-flat codec (cdc/sink/codec/canal_flat.go:1-249): one JSON message per
# row change — {database, table, pkNames, isDdl, type INSERT/UPDATE/DELETE,
# es (commit-ts ms), ts, data:[{col:stringval}], old:null}. Canal stringifies
# every value (java type mapping, codec/canal.go java.go:1-152); deletes carry
# only the handle key in `data` (mysql whereSlice semantics).
# ---------------------------------------------------------------------------

def _canal_type():
    # built lazily: Column construction needs an active SparkContext, and
    # this module must stay importable before the session exists
    return (
        F.when(F.col("op") == "I", F.lit("INSERT"))
        .when(F.col("op") == "U", F.lit("UPDATE"))
        .otherwise(F.lit("DELETE"))
    )


def _is_complex_type(t: str) -> bool:
    return t.strip().lower().startswith(("array", "struct", "map"))


def canal_flat_value_col(
    payload_cols: list[str],
    database: str = "cdc",
    complex_cols: set[str] | frozenset = frozenset(),
    with_old: bool = False,
):
    """The canal-flat message as a single Column (one JSON string per
    change event) — composable into any writer that needs other columns
    (dispatch partition, kafka key) alongside the encoded value.

    complex_cols: columns of array/struct/map type — canal's all-strings
    column map can't carry them natively (MySQL has no such types), so they
    travel as JSON text and decode_canal_flat parses them back with
    from_json instead of cast.

    with_old: the input additionally carries old_<col>/had_old (the
    enable-old-value pre-image). Mirrors canal_flat.go:93-147: `old` holds
    the one-element before image ([null] when there is none — the adapter
    contract requires exactly one element either way), and a DELETE's
    `data` is the FULL before image rather than the handle key alone
    ("Alibaba's adapter expects this, and so does Flink")."""
    enc = lambda c: (  # noqa: E731
        F.to_json(F.col(c)) if c in complex_cols else F.col(c).cast("string")
    )
    data_map = F.create_map(
        F.lit("doc_id"),
        F.col("doc_id"),
        *[x for c in payload_cols for x in (F.lit(c), enc(c))],
    )
    key_only = F.create_map(F.lit("doc_id"), F.col("doc_id"))
    if with_old:
        enc_old = lambda c: (  # noqa: E731
            F.to_json(F.col(f"old_{c}"))
            if c in complex_cols
            else F.col(f"old_{c}").cast("string")
        )
        # before image travels on UPDATE and DELETE only (canal.go:232-244
        # builds BeforeColumns for exactly those) — an INSERT's old is [null]
        old_map = F.when(
            F.col("had_old") & (F.col("op") != "I"),
            F.create_map(
                F.lit("doc_id"),
                F.col("doc_id"),
                *[x for c in payload_cols for x in (F.lit(c), enc_old(c))],
            ),
        )
        data = F.when(
            F.col("op") == "D", F.coalesce(old_map, key_only)
        ).otherwise(data_map)
    else:
        # delete events carry the handle key only (canal_flat.go delete
        # case when the feed runs without old value)
        old_map = None
        data = F.when(F.col("op") == "D", key_only).otherwise(data_map)
    msg_fields = [
        F.lit(database).alias("database"),
        F.col("table"),
        F.array(F.lit("doc_id")).alias("pkNames"),
        F.lit(False).alias("isDdl"),
        _canal_type().alias("type"),
        (F.col("commit_ts") / 1000).cast("long").alias("es"),
        F.col("commit_ts").alias("ts"),
        F.col("seq").alias("seq"),
        F.array(data).alias("data"),
    ]
    if old_map is not None:
        msg_fields.append(F.array(old_map).alias("old"))
    return F.to_json(F.struct(*msg_fields))


def encode_canal_flat(
    df: DataFrame, payload_cols: list[str], database: str = "cdc",
    with_old: bool = False,
) -> DataFrame:
    """Rows → one canal-flat JSON string per change event."""
    return df.select(
        canal_flat_value_col(payload_cols, database, with_old=with_old).alias(
            "canal_json"
        )
    )


def decode_canal_flat(
    df: DataFrame, payload_types: dict[str, str], with_old: bool = False
) -> DataFrame:
    """canal_json → typed change rows (values un-stringified by cast).

    with_old: also surface the before image as old_<col> + had_old (messages
    encoded under enable-old-value; a DELETE's payload columns stay NULL —
    its `data` is the before image, which belongs in old_<col>, not the
    after-image fields)."""
    schema = T.StructType(
        [
            T.StructField("database", T.StringType()),
            T.StructField("table", T.StringType()),
            T.StructField("pkNames", T.ArrayType(T.StringType())),
            T.StructField("isDdl", T.BooleanType()),
            T.StructField("type", T.StringType()),
            T.StructField("es", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("data", T.ArrayType(T.MapType(T.StringType(), T.StringType()))),
            T.StructField("old", T.ArrayType(T.MapType(T.StringType(), T.StringType()))),
        ]
    )
    m = df.select(F.from_json("canal_json", schema).alias("_m")).select("_m.*")
    op = (
        F.when(F.col("type") == "INSERT", F.lit("I"))
        .when(F.col("type") == "UPDATE", F.lit("U"))
        .otherwise(F.lit("D"))
    )
    row = F.col("data")[0]
    cast = lambda v, t: (  # noqa: E731
        F.from_json(v, t) if _is_complex_type(t) else v.cast(t)
    )
    typed = [
        F.when(op != "D", cast(row[c], t)).alias(c)
        if with_old
        else cast(row[c], t).alias(c)
        for c, t in payload_types.items()
    ]
    extra = []
    if with_old:
        old_row = F.col("old")[0]
        extra = [
            *[cast(old_row[c], t).alias(f"old_{c}") for c, t in payload_types.items()],
            old_row.isNotNull().alias("had_old"),
        ]
    return m.select(
        F.col("ts").alias("commit_ts"),
        F.col("seq"),
        F.col("table"),
        op.alias("op"),
        row["doc_id"].alias("doc_id"),
        *typed,
        *extra,
    )


# ---------------------------------------------------------------------------
# Maxwell codec (cdc/sink/codec/maxwell.go:1-370): {database, table, type
# insert/update/delete, ts (seconds), xid, data:{col:val}} — values keep
# native JSON types (unlike canal's all-strings).
# ---------------------------------------------------------------------------

def _maxwell_type():
    # lazy for the same importability reason as _canal_type
    return (
        F.when(F.col("op") == "I", F.lit("insert"))
        .when(F.col("op") == "U", F.lit("update"))
        .otherwise(F.lit("delete"))
    )


def maxwell_value_col(
    payload_cols: list[str], database: str = "cdc", with_old: bool = False
):
    """The maxwell message as a single Column (see encode_maxwell)."""
    data = F.struct(
        F.col("doc_id"), *[F.col(c) for c in payload_cols]
    )
    parts = [
        F.lit(database).alias("database"),
        F.col("table"),
        _maxwell_type().alias("type"),
        (F.col("commit_ts") / 1_000_000).cast("long").alias("ts"),
        F.col("commit_ts").alias("commit_ts"),
        F.col("seq").alias("xid"),
        data.alias("data"),
    ]
    if with_old:
        old = F.when(
            F.col("op") == "U",
            F.struct(*[F.col(f"old_{c}").alias(c) for c in payload_cols]),
        )
        parts.append(old.alias("old"))
    return F.to_json(F.struct(*parts))


def encode_maxwell(
    df: DataFrame, payload_cols: list[str], database: str = "cdc",
    with_old: bool = False,
) -> DataFrame:
    """Rows → one maxwell JSON string per change event.

    with_old: emit the `old` map with the pre-change values of the payload
    columns on UPDATE events (maxwell.go:90-150 Old; enable-old-value
    mode). Requires old_<col> columns on df — produce them with
    operators.lww.with_old_image."""
    return df.select(
        maxwell_value_col(payload_cols, database, with_old).alias("maxwell_json")
    )


def decode_maxwell(
    df: DataFrame, payload_schema: T.StructType, with_old: bool = False
) -> DataFrame:
    """maxwell_json → typed change rows (+ old_<col> columns when
    with_old)."""
    data_fields = [T.StructField("doc_id", T.StringType())] + list(payload_schema)
    fields = [
        T.StructField("database", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("ts", T.LongType()),
        T.StructField("commit_ts", T.LongType()),
        T.StructField("xid", T.LongType()),
        T.StructField("data", T.StructType(data_fields)),
    ]
    if with_old:
        fields.append(T.StructField("old", T.StructType(list(payload_schema))))
    schema = T.StructType(fields)
    m = df.select(F.from_json("maxwell_json", schema).alias("_m")).select("_m.*")
    op = (
        F.when(F.col("type") == "insert", F.lit("I"))
        .when(F.col("type") == "update", F.lit("U"))
        .otherwise(F.lit("D"))
    )
    cols = [
        F.col("commit_ts"),
        F.col("xid").alias("seq"),
        F.col("table"),
        op.alias("op"),
        F.col("data.doc_id").alias("doc_id"),
        *[F.col(f"data.{f.name}").alias(f.name) for f in payload_schema],
    ]
    if with_old:
        cols += [
            F.col(f"old.{f.name}").alias(f"old_{f.name}") for f in payload_schema
        ]
    return m.select(*cols)


# ---------------------------------------------------------------------------
# Open-Protocol BATCH framing (cdc/sink/codec/json.go:336-368, 742-792):
# one MQ message carries many events — key bytes = [8B BE BatchVersion1]
# [(8B BE keyLen)(key)]*, value bytes = [(8B BE valueLen)(value)]*; deletes
# frame a zero-length value. This is the actual kafka wire layout of
# open-protocol v1; the per-row (key_json, value_json) form above is the
# unframed logical view.
# ---------------------------------------------------------------------------

BATCH_VERSION_1 = 1


def pack_open_protocol_batch(keys: list[str], values: list[str | None]) -> tuple[bytes, bytes]:
    """Frame ordered (key, value) string pairs into one (key_bytes,
    value_bytes) message pair."""
    import struct as _struct

    kb = bytearray(_struct.pack(">Q", BATCH_VERSION_1))
    vb = bytearray()
    for k, v in zip(keys, values):
        ke = k.encode("utf-8")
        kb += _struct.pack(">Q", len(ke)) + ke
        ve = b"" if v is None else v.encode("utf-8")
        vb += _struct.pack(">Q", len(ve)) + ve
    return bytes(kb), bytes(vb)


def unpack_open_protocol_batch(key_bytes: bytes, value_bytes: bytes) -> list[tuple[str, str | None]]:
    """Reverse of pack_open_protocol_batch (json.go:742-792 decoder:
    version check, then length-prefixed key/value pulls)."""
    import struct as _struct

    ver = _struct.unpack(">Q", key_bytes[:8])[0]
    if ver != BATCH_VERSION_1:
        raise ValueError(f"unexpected batch format version {ver}")
    out = []
    kpos, vpos = 8, 0
    while kpos < len(key_bytes):
        klen = _struct.unpack(">Q", key_bytes[kpos : kpos + 8])[0]
        kpos += 8
        k = key_bytes[kpos : kpos + klen].decode("utf-8")
        kpos += klen
        vlen = _struct.unpack(">Q", value_bytes[vpos : vpos + 8])[0]
        vpos += 8
        v = value_bytes[vpos : vpos + vlen].decode("utf-8") if vlen else None
        vpos += vlen
        out.append((k, v))
    return out


def encode_open_protocol_batched(
    df: DataFrame, payload_cols: list[str], group_col: str = "partition"
) -> DataFrame:
    """(events + group_col) → one framed (key_bytes, value_bytes) message
    per group, events ordered by (commit_ts, seq) within the frame —
    per-key ordering survives because the group col is the dispatch
    partition. Spark shape: one groupBy + an Arrow-batched scalar UDF over
    the collected frame (frames are MQ-message-sized by construction)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    key = F.to_json(F.struct(*[F.col(c) for c in KEY_FIELDS]))
    val = F.when(
        F.col("op") != "D", F.to_json(F.struct(*[F.col(c) for c in payload_cols]))
    )
    rows = df.select(
        F.col(group_col).alias("_grp"),
        F.struct(
            F.col("commit_ts"), F.col("seq"), key.alias("k"), val.alias("v")
        ).alias("_msg"),
    )
    agg = rows.groupBy("_grp").agg(
        F.array_sort(F.collect_list("_msg")).alias("_msgs")
    )

    def _pack(msgs):
        out_k, out_v = [], []
        for frame in msgs:
            ks = [m["k"] for m in frame]
            vs = [m["v"] for m in frame]
            kb, vb = pack_open_protocol_batch(ks, vs)
            out_k.append(kb)
            out_v.append(vb)
        return pd.DataFrame({"key_bytes": out_k, "value_bytes": out_v})

    packer = pandas_udf(
        _pack, "key_bytes binary, value_bytes binary"
    )
    return agg.select(
        F.col("_grp").alias(group_col), packer(F.col("_msgs")).alias("_p")
    ).select(group_col, "_p.*")


def unframe_messages(df: DataFrame) -> DataFrame:
    """(key_bytes, value_bytes) framed messages → exploded per-event
    (key_json, value_json) pairs (json.go:742-792 decoder), Arrow-batched."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _unpack(kb, vb):
        out = []
        for k, v in zip(kb, vb):
            out.append([list(p) for p in unpack_open_protocol_batch(k, v)])
        return pd.Series(out)

    unpacker = pandas_udf(_unpack, "array<array<string>>")
    return df.select(
        F.explode(unpacker(F.col("key_bytes"), F.col("value_bytes"))).alias("_p")
    ).select(
        F.col("_p")[0].alias("key_json"), F.col("_p")[1].alias("value_json")
    )


def decode_open_protocol_batched(
    df: DataFrame, payload_schema: T.StructType
) -> DataFrame:
    """(key_bytes, value_bytes) frames → typed change rows (explode the
    frame JVM-side after an Arrow-batched unframe)."""
    return decode_open_protocol(unframe_messages(df), payload_schema)


# ---------------------------------------------------------------------------
# SIZED batch framing — the reference never ships one unbounded message per
# partition: JSONEventBatchEncoder starts a NEW MQ message whenever the
# current one holds max-batch-size events (default 16) or appending the next
# event would push it past max-message-bytes (default 64 MiB), Kafka's
# message ceiling (cdc/sink/codec/json.go:38-41 defaults, 394-399 split
# rule, 414-418 oversized-single-event warning). The one-frame-per-group
# encoder above is the cdclog/oracle form; THIS is the MQ wire form.
# ---------------------------------------------------------------------------

DEFAULT_MAX_MESSAGE_BYTES = 64 * 1024 * 1024  # json.go:39
DEFAULT_MAX_BATCH_SIZE = 16  # json.go:41


def split_sized(
    sizes: list[int],
    max_batch_size: int = DEFAULT_MAX_BATCH_SIZE,
    max_message_bytes: int = DEFAULT_MAX_MESSAGE_BYTES,
) -> list[tuple[int, int]]:
    """The reference's greedy message split (json.go:394-399), verbatim,
    over each event's framed size (8B keyLen + key + 8B valueLen + value):
    walking events in order, open a new message when the current one already
    holds max_batch_size events OR appending the event would exceed
    max_message_bytes. A single event larger than the byte cap still ships
    alone (json.go:414-418 warns, never drops). Returns [start, end)
    event-index ranges, one per message."""
    msgs: list[list[int]] = []  # [start_idx, length_bytes, n_events]
    for i, add in enumerate(sizes):
        if (
            not msgs
            or msgs[-1][2] >= max_batch_size
            or msgs[-1][1] + add > max_message_bytes
        ):
            msgs.append([i, 8, 0])  # 8B version head (json.go:398-399)
        msgs[-1][1] += add
        msgs[-1][2] += 1
    return [(s, s + n) for s, _, n in msgs]


def split_open_protocol_sized(
    keys: list[str],
    values: list[str | None],
    max_batch_size: int = DEFAULT_MAX_BATCH_SIZE,
    max_message_bytes: int = DEFAULT_MAX_MESSAGE_BYTES,
) -> list[tuple[int, int]]:
    """:func:`split_sized` over (key, value) JSON strings."""
    sizes = [
        len(k.encode("utf-8")) + (0 if v is None else len(v.encode("utf-8"))) + 16
        for k, v in zip(keys, values)
    ]
    return split_sized(sizes, max_batch_size, max_message_bytes)


def frame_sized_messages(
    df: DataFrame,
    group_col: str = "partition",
    key_col: str = "key_json",
    val_col: str = "value_json",
    order_cols: tuple[str, str] = ("commit_ts", "seq"),
    max_batch_size: int = DEFAULT_MAX_BATCH_SIZE,
    max_message_bytes: int = DEFAULT_MAX_MESSAGE_BYTES,
) -> DataFrame:
    """Pre-encoded (key, value) JSON rows → size-bounded framed messages:
    each dispatch group's rows (ordered by order_cols — a total order) are
    split by the reference's greedy rule into messages of ≤ max_batch_size
    events and ≤ max_message_bytes bytes, framed exactly like
    :func:`pack_open_protocol_batch`.

    Output: (group_col, msg_idx, n_events, key_bytes, value_bytes) — one row
    per MQ message; msg_idx is the message's send order within its
    partition (Kafka append order = encoder Build() order, mq.go flush).

    Spark shape: ONE groupBy(group_col) + applyInPandas. A group is one MQ
    partition's slice of one micro-batch — bounded by trigger sizing, not
    by corpus size, exactly the buffer the reference's per-partition
    encoder holds in memory; partition count scales with the sink topic."""
    import pandas as pd

    grp_type = df.schema[group_col].dataType.simpleString()
    o1, o2 = order_cols
    rows = df.select(
        F.col(group_col).alias("_grp"),
        F.col(o1).alias("_o1"),
        F.col(o2).alias("_o2"),
        F.col(key_col).alias("_k"),
        F.col(val_col).alias("_v"),
    )
    out_schema = (
        f"{group_col} {grp_type}, msg_idx int, n_events int, "
        "key_bytes binary, value_bytes binary"
    )

    def _split(pdf: pd.DataFrame) -> pd.DataFrame:
        import struct as _struct

        pdf = pdf.sort_values(["_o1", "_o2"], kind="mergesort")
        # encode ONCE; the split rule needs only byte lengths and the pack
        # needs only the encoded bytes — the naive form (split over str +
        # pack re-encoding) UTF-8-encoded every string twice and dominated
        # the sized-framing overhead at 10^6-event batches
        kenc = [k.encode("utf-8") for k in pdf["_k"]]
        venc = [None if pd.isna(v) else v.encode("utf-8") for v in pdf["_v"]]
        bounds = split_sized(
            [len(k) + (0 if v is None else len(v)) + 16 for k, v in zip(kenc, venc)],
            max_batch_size, max_message_bytes,
        )
        pq = _struct.Struct(">Q").pack
        head = pq(BATCH_VERSION_1)
        out = []
        grp = pdf["_grp"].iloc[0]
        for idx, (s, e) in enumerate(bounds):
            kb = head + b"".join(
                pq(len(k)) + k for k in kenc[s:e]
            )
            vb = b"".join(
                pq(0) if v is None else pq(len(v)) + v for v in venc[s:e]
            )
            out.append((grp, idx, e - s, kb, vb))
        return pd.DataFrame(
            out,
            columns=[group_col, "msg_idx", "n_events", "key_bytes", "value_bytes"],
        )

    return rows.groupBy("_grp").applyInPandas(_split, out_schema)


def encode_open_protocol_sized(
    df: DataFrame,
    payload_cols: list[str],
    group_col: str = "partition",
    max_batch_size: int = DEFAULT_MAX_BATCH_SIZE,
    max_message_bytes: int = DEFAULT_MAX_MESSAGE_BYTES,
) -> DataFrame:
    """(events + group_col) → size-bounded framed messages (see
    :func:`frame_sized_messages` for the split/plan contract): encodes the
    open-protocol key/value JSON first, then frames."""
    key = F.to_json(F.struct(*[F.col(c) for c in KEY_FIELDS]))
    val = F.when(
        F.col("op") != "D", F.to_json(F.struct(*[F.col(c) for c in payload_cols]))
    )
    rows = df.select(
        F.col(group_col),
        F.col("commit_ts"),
        F.col("seq"),
        key.alias("key_json"),
        val.alias("value_json"),
    )
    return frame_sized_messages(
        rows, group_col,
        max_batch_size=max_batch_size, max_message_bytes=max_message_bytes,
    )


def pack_open_protocol_mixed(keys: list[str], values: list[str | None]) -> bytes:
    """MixedBuild layout (json.go:370-398, used by the cdclog file sink):
    ONE byte stream = [8B BE version][8B BE keyLen][key][8B BE valLen][val]
    per message — key and value interleaved instead of split buffers."""
    import struct as _struct

    out = bytearray(_struct.pack(">Q", BATCH_VERSION_1))
    for k, v in zip(keys, values):
        ke = k.encode("utf-8")
        ve = b"" if v is None else v.encode("utf-8")
        out += _struct.pack(">Q", len(ke)) + ke
        out += _struct.pack(">Q", len(ve)) + ve
    return bytes(out)


def unpack_open_protocol_mixed(data: bytes) -> list[tuple[str, str | None]]:
    import struct as _struct

    ver = _struct.unpack(">Q", data[:8])[0]
    if ver != BATCH_VERSION_1:
        raise ValueError(f"unexpected mixed format version {ver}")
    pos, out = 8, []
    while pos < len(data):
        klen = _struct.unpack(">Q", data[pos : pos + 8])[0]
        pos += 8
        k = data[pos : pos + klen].decode("utf-8")
        pos += klen
        vlen = _struct.unpack(">Q", data[pos : pos + 8])[0]
        pos += 8
        v = data[pos : pos + vlen].decode("utf-8") if vlen else None
        pos += vlen
        out.append((k, v))
    return out
