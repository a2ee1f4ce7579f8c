"""The changefeed engine both feeds run on — ChangeFeed (one table) and
MultiTableChangeFeed (many, routed by the binlog's `table` column) are thin
drivers over FeedBase.

Per micro-batch (SURVEY.md §3.2, cdc/processor/pipeline/table.go:136-169
`puller → sorter → mounter → sink` collapsed into foreachBatch):

  1. union new files with the carried-over tail (EntrySorter's retained
     suffix: events above the previous resolved-ts,
     cdc/puller/entry_sorter.go:119-155)
  2. ONE part_stats job folds every (table,) part's positions and counts;
     streaming.frontier advances the span maps monotonically, applies
     split/merge topology, checks the producer contracts and yields the
     release frontier (min over spans, kafka_consumer/main.go:531-544)
  3. events ≤ the frontier are releasable; the rest become the next tail —
     applied state is always a commit-ts-prefix of the stream, exactly the
     reference's sink consistency guarantee
  4. per table, DDL barriers split the released prefix: DML with commit_ts
     ≤ ddl_ts applies on the old schema (the equals case uses the PRE-ddl
     schema, cdc/entry/mounter.go:242-247), then the lake schema advances,
     then the remainder applies
  5. each slice: mount (per-version decode) → replay_epoch (LWW collapse +
     idempotent conditional MERGE keyed by a per-feed epoch id) —
     Structured Streaming replays a failed batch with the same batch_id and
     the lake skips already-committed epoch ids → exactly-once final state
  6. optional MQ emission of the released prefix, then the tail write

What a feed keeps for itself is a handful of hooks: its stream schema, the
part_stats grouping and late threshold, the known-table filter, routing,
and its summary (plus ChangeFeed's start_ts/cyclic/compaction/lineage and
MultiTableChangeFeed's table lifecycle).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..engine.replay import check_collapse, replay_epoch
from ..lake.table import LakeTable
from ..model import TOPOLOGY_OPS
from . import frontier

RAW_BINLOG_SCHEMA = T.StructType(
    [
        T.StructField("commit_ts", T.LongType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("table", T.StringType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("payload", T.StringType(), True),
        T.StructField("part", T.IntegerType(), False),
        T.StructField("schema_version", T.IntegerType(), False),
    ]
)

# topology rows (op S/M) carry NO stream position: commit_ts/seq order them
# against each other only. Resolved-ts control rows (op R) advance their
# span's frontier through max_ts like a data event's max would, but are not
# rows: never late, never counted, dropped after the fold.
def _is_topo():
    return F.col("op").isin(list(TOPOLOGY_OPS))


def _is_data():
    return ~F.col("op").isin(["R", *TOPOLOGY_OPS])


def schema_version_violation(ddl_ts: list[int]):
    """1 for a row stamped with a schema_version ABOVE version_at(commit_ts)
    — the producer contract the mounter's versions_present hint relies on
    (snapshot-at-CRTs-1, cdc/entry/mounter.go:242-247). Such a row would be
    silently dropped by the hinted per-version union, so the feed checks the
    count in the same part_stats job and fails loudly instead."""
    expected = F.lit(0)
    for ts in ddl_ts:
        expected = expected + F.when(F.col("commit_ts") > F.lit(ts), 1).otherwise(0)
    return F.when(F.col("schema_version") > expected, 1).otherwise(0)


def part_stats(events: DataFrame, by: list[str], late, sv_viol) -> list[dict]:
    """The batch's one frontier job: per-`by` positions and counts. late:
    the per-row late condition; sv_viol: schema_version_violation(...).
    Rows come back as dicts with a "table" key (None unless grouped by
    table)."""
    is_topo, is_data = _is_topo(), _is_data()
    rows = (
        events.groupBy(*by)
        .agg(
            F.max(F.when(~is_topo, F.col("commit_ts"))).alias("max_ts"),
            F.min(F.when(~is_topo, F.col("commit_ts"))).alias("min_ts"),
            F.max(F.when(is_data, F.col("commit_ts"))).alias("data_max_ts"),
            F.sum(F.when(is_topo, 1).otherwise(0)).alias("topo"),
            F.sum(F.when(is_data, 1).otherwise(0)).alias("cnt"),
            F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("dels"),
            F.sum(F.when(is_data & late, 1).otherwise(0)).alias("late"),
            F.sum(F.when(is_data, sv_viol).otherwise(0)).alias("sv_viol"),
        )
        .collect()
    )
    return [{"table": None, **r.asDict()} for r in rows]


# lossless cast directions: metadata-only widen is safe, the read-time cast
# by field id never loses information. Anything else is a MODIFY (physical
# rewrite) — MySQL's modify column rewrites for the same reason.
_WIDENING = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"), ("int", "double"),
    ("float", "double"),
}


def is_widening(frm: str, to: str) -> bool:
    f, t = frm.strip().lower(), to.strip().lower()
    return f == t or t == "string" or (f, t) in _WIDENING


def advance_lake_schema(table: LakeTable, fields_next: list[dict], epoch_id: str) -> None:
    """Diff current lake fields vs target and emit add/widen/modify/rename/
    drop ops. (The registry and lake share field ids, so the diff is exact.)
    Type changes split by direction: lossless → widen_column (metadata-only
    commit); lossy/narrowing → modify_column (atomic physical rewrite,
    ActionModifyColumn parity, schema_storage.go:539-624)."""
    cur = {f["id"]: f for f in table.current_fields}
    next_ids = {f["id"] for f in fields_next}
    ops: list[tuple[str, dict]] = []
    for fid, c in cur.items():
        if fid not in next_ids:
            ops.append(("drop_column", {"name": c["name"]}))
    for f in fields_next:
        c = cur.get(f["id"])
        if c is None:
            spec = {"name": f["name"], "type": f["type"]}
            if f.get("initial_default") is not None:
                # carry ADD COLUMN ... DEFAULT through to the lake so its
                # read-time projection of pre-DDL files matches the mounter
                spec["default"] = f["initial_default"]
            ops.append(("add_column", spec))
        elif c["name"] != f["name"]:
            ops.append(("rename_column", {"from": c["name"], "to": f["name"]}))
        elif c["type"] != f["type"]:
            kind = (
                "widen_column"
                if is_widening(c["type"], f["type"])
                else "modify_column"
            )
            ops.append((kind, {"name": f["name"], "to": f["type"]}))
    # per-op epoch ids: a multi-change diff must not have its tail ops
    # swallowed by the first op's idempotence record
    for k, (typ, spec) in enumerate(ops):
        eid = f"{epoch_id}#{k}" if len(ops) > 1 else epoch_id
        if typ == "modify_column":
            table.modify_column(spec, eid)
        else:
            table.update_schema(typ, spec, eid)


def attach_old_images(
    table: LakeTable,
    ready: DataFrame,
    pre_version: int,
    n_events: int | None = None,
) -> DataFrame:
    """Attach old_<col>/had_old to every emitted event (enable-old-value).
    In-batch pre-images come from the apply-order lag window (operators.
    lww.with_old_image); each key's FIRST in-batch event takes its image
    from the pre-batch snapshot instead, read KEY-pruned to the batch's key
    set (read_version_for_keys: per-file min/max + key-bloom sidecar file
    skipping, semi-join before the collapse — read volume and collapse
    shuffle ∝ the batch's keys, never touched-bucket size) — the lake-side
    analog of TiKV handing TiCDC the old value with the write. A key absent
    from the snapshot (true insert) keeps had_old = false.

    Requires the resolved-ts arrival contract (no events at or below the
    released frontier): reconstruction is sequence-sensitive, so
    enable-old-value forces the late-event panic in the feed even when
    strict watermarks are off. Events whose in-batch predecessor is a
    delete keep a NULL image (row was absent — the window already encodes
    that). Shared by both feeds (per table)."""
    from ..operators.lww import with_old_image

    key = table.key_col
    payload = [f["name"] for f in table.current_fields if f["name"] != key]
    # adaptive pre-image read. The key-pruned path (per-file key blooms +
    # pre-collapse semi-join, read_version_for_keys) wins when the batch
    # touches a small fraction of the snapshot — the 10^10-scale design
    # point where change volume ≪ corpus: read volume and collapse shuffle
    # become ∝ the batch's keys. A bulk batch touching most keys (backfill,
    # the replay bench) would pay the key collect and broadcast for no
    # pruning: it reads the whole snapshot with ZERO extra jobs instead — a
    # batch touching ≥25% of rows touches essentially every bucket, so
    # bucket-level pruning could not pay for its own aggregation job. The
    # gate count rides the caller's part_stats fold for free (n_events);
    # events ≥ keys, so events*4 < snapshot rows guarantees the batch is
    # genuinely sparse, and the keys the sparse branch collects to the
    # driver are then fewer than snapshot rows / 4 by construction.
    unioned = _pre_image_union(table, ready, pre_version, payload, n_events)
    unioned = with_old_image(unioned, payload)
    return unioned.filter(~F.col("_pre")).drop("_pre")


def _pre_image_union(
    table: LakeTable,
    ready: DataFrame,
    pre_version: int,
    payload: list[str],
    n_events: int | None,
) -> DataFrame:
    """Events + the pre-batch snapshot as pseudo-events, marked `_pre`.

    The snapshot rides the SAME lag window as the in-batch events: each
    live snapshot row enters as a pseudo-event at (commit_ts=-2^62, seq=0,
    op='I') — below every real event, since arrival ts are nonnegative —
    so a key's first real event lags straight onto its table image and a
    true insert (no pseudo-row) lags onto nothing (had_old=false). This
    replaces the former events⋈snapshot join: one Window stage, zero
    join stages, and the snapshot rows pass through the key shuffle
    once instead of being SMJ-copied onto every event of their key.
    A batch DDL may have added columns the snapshot predates — their
    pre-image is NULL by construction (type-cast NULL fills).

    A sparse batch (events * 4 < the snapshot's rows) reads the snapshot
    with read_version_for_keys, which holds the batch's keys once on the
    driver, as Arrow: at most one per event, so fewer than snapshot rows
    / 4. Any other batch reads the whole snapshot (read_version_raw). The
    snapshot manifest is loaded once for both the sizing and the read."""
    from ..model import SYS_DELETED

    key = table.key_col
    if n_events is None:
        n_events = ready.count()
    pre_rows = table.version_rows(pre_version)
    sparse = pre_rows is not None and n_events * 4 < pre_rows
    if sparse:
        old = table.read_version_for_keys(pre_version, ready.select(key))
    else:
        old = table.read_version_raw(pre_version)
    types = {f["name"]: f["type"] for f in table.current_fields}
    avail = set(old.columns)
    pre_cols = []
    for c in ready.columns:
        if c == key:
            pre_cols.append(F.col(key))
        elif c == "commit_ts":
            # far below any real commit-ts (the binlog contract keeps real
            # ts nonnegative; −2^62 also survives any start_ts arithmetic)
            pre_cols.append(F.lit(-(1 << 62)).cast("long").alias("commit_ts"))
        elif c == "seq":
            pre_cols.append(F.lit(0).cast("long").alias("seq"))
        elif c == "op":
            pre_cols.append(F.lit("I").alias("op"))
        elif c in payload and c in avail:
            pre_cols.append(F.col(c))
        else:
            t = types.get(c, dict(ready.dtypes).get(c, "string"))
            pre_cols.append(F.lit(None).cast(t).alias(c))
    pre_df = old.filter(~F.col(SYS_DELETED)).select(*pre_cols)
    return ready.withColumn("_pre", F.lit(False)).unionByName(
        pre_df.withColumn("_pre", F.lit(True))
    )


def attach_old_value_json(
    table: LakeTable,
    ready: DataFrame,
    pre_version: int,
    key_json,
    part_col,
    n_events: int | None = None,
) -> DataFrame:
    """Open-protocol old-value emission, serialize-once: an event's old
    image IS its predecessor's after-image, so instead of carrying typed
    old_<col> columns and re-encoding them (attach_old_images → encode_mq
    would to_json every payload twice), serialize each row's after-image
    ONCE before the lag window and LAG THE STRING. The window shuffle then
    carries (key, ts, seq, op, value_json, key_json, partition) — payload
    columns never cross it — and the post-window plan is a pure projection.
    Output: (key_json, value_json, old_json, partition, _ots, _oseq), the
    exact frame FeedBase._emit_mq writes for protocol='open'.

    maxwell / canal-json keep the typed attach_old_images path — their old
    images are structured fields of ONE value document, not a second
    serialized copy, so there is nothing to share."""
    from pyspark.sql import Window

    from ..operators.lww import op_rank_col

    key = table.key_col
    payload = [f["name"] for f in table.current_fields if f["name"] != key]
    unioned = _pre_image_union(table, ready, pre_version, payload, n_events)
    vj = F.when(
        F.col("op") != "D",
        F.to_json(F.struct(*[F.col(c) for c in payload])),
    )
    narrow = unioned.select(
        F.col(key),
        "commit_ts",
        "seq",
        "op",
        "_pre",
        vj.alias("_vj"),
        key_json.alias("key_json"),
        part_col.alias("partition"),
    )
    w = Window.partitionBy(key).orderBy(
        F.col("commit_ts").asc(), F.col("seq").asc(), op_rank_col().asc()
    )
    prev_op = F.lag("op").over(w)
    out = narrow.withColumn(
        "old_json",
        F.when(prev_op.isNull() | (prev_op == "D"), F.lit(None)).otherwise(
            F.lag("_vj").over(w)
        ),
    ).filter(~F.col("_pre"))
    return out.select(
        "key_json",
        F.col("_vj").alias("value_json"),
        "partition",
        "old_json",
        F.col("commit_ts").alias("_ots"),
        F.col("seq").alias("_oseq"),
    )


class Batch:
    """What one micro-batch computed, handed to the feed hooks."""

    def __init__(self, batch_id: int):
        self.id = batch_id
        self.timings: dict[str, float] = {}
        self.pre_versions: dict = {}  # table -> version before the batch
        self.stats: list[dict] = []  # part_stats rows of known tables
        self.stats_all: list[dict] = []  # ... of every table in the stream
        self.n_topo = 0
        self.spans: dict = {}  # table -> frontier.SpanMap, folded
        self.resolved = -1
        self.ready = None  # the released prefix
        self.barriers: dict = {}  # table -> [(version, ts)]
        self.applied: dict = {}  # table -> [(epoch_id, merge stats)]


class FeedBase:
    """Shared driver: subclasses set `tables` / `registries` (one entry per
    table; ChangeFeed's single table is named None) and call __init__."""

    # part_stats grouping: (part,) for one table, (table, part) for many
    by: tuple[str, ...] = ("part",)
    # typed-mode apply mounts per schema version (ChangeFeed) or projects the
    # union stream schema by name (MultiTableChangeFeed)
    typed_mount = False
    collapse = "bucket_window"
    target_ts: int | None = None
    strict_watermarks = False

    def __init__(
        self,
        spark,
        binlog_dir: str,
        checkpoint_dir: str,
        mode: str,
        max_files_per_trigger: int | None,
        pending_dir: str | None,
        n_parts: int | None,
        dynamic_spans: bool,
        collapse_overrides: dict,
        mq_dir: str | None,
        mq_partitions: int,
        mq_protocol: str,
        mq_old_value: bool,
        mq_framing: str,
        mq_max_batch_size: int,
        mq_max_message_bytes: int,
        admin,
        feed_name: str | None,
        post_batch,
        stop_ts: dict | None = None,
    ):
        import hashlib

        from .protocols import check_protocol

        self.spark = spark
        self.binlog_dir = binlog_dir
        self.checkpoint_dir = checkpoint_dir
        self.mode = mode
        self.max_files_per_trigger = max_files_per_trigger
        self.pending_dir = pending_dir or os.path.join(checkpoint_dir, "pending")
        # span universe: the reference's frontier is INITIALIZED with the
        # full span set at feed start (cdc/puller/frontier)
        self.n_parts = n_parts
        self.dynamic_spans = dynamic_spans
        # per-table LWW collapse for tables with adversarial per-key skew
        # (engine.replay.COLLAPSE); the default fuses the collapse shuffle
        # with the bucketed MOR write
        for name, s in collapse_overrides.items():
            check_collapse(s, name)
        self.collapse_overrides = dict(collapse_overrides)
        self.stop_ts = dict(stop_ts or {})
        # MQ sink (cdc/sink/mq.go:165-226): when set, each batch's released
        # events are ALSO emitted as messages under mq_dir/batch-N/
        # partition=P, plus one resolved-ts message per partition
        # (json.go:332-369 broadcast) so a consumer can advance its frontier.
        # mq_protocol is the `protocol=` sink-uri option (mq.go:356-378);
        # meta messages (resolved, DDL) stay open-JSON on every protocol —
        # the reference's canal/avro pipelines carry them out-of-band too.
        self.mq_dir = mq_dir
        self.mq_partitions = mq_partitions
        self.mq_protocol = check_protocol(mq_protocol)
        self._avro_registry = None  # lazily created; subject-versions stable per feed
        # enable-old-value (cdc/model/changefeed.go EnableOldValue; maxwell
        # and canal REQUIRE it in the reference): every emitted event also
        # carries its pre-change image (attach_old_images)
        if mq_old_value and mq_protocol not in ("open", "maxwell", "canal-json"):
            raise ValueError(
                "mq_old_value supports protocols: open, maxwell, canal-json"
            )
        self.mq_old_value = mq_old_value
        # MQ message framing: "row" = one message per event (the unframed
        # logical view); "sized" = the reference's ACTUAL kafka wire form —
        # open-protocol batch messages split greedily at max-batch-size
        # events / max-message-bytes bytes (json.go:38-41, 394-418). The
        # batch layout is open-protocol v1 specific; old_value rides extra
        # columns the frame has no slot for.
        if mq_framing not in ("row", "sized"):
            raise ValueError(f"unknown mq_framing {mq_framing!r}")
        if mq_framing == "sized" and (mq_protocol != "open" or mq_old_value):
            raise ValueError(
                "mq_framing='sized' requires mq_protocol='open' without "
                "old value (the v1 batch frame carries only key/value)"
            )
        self.mq_framing = mq_framing
        self.mq_max_batch_size = mq_max_batch_size
        self.mq_max_message_bytes = mq_max_message_bytes
        if mq_old_value:
            # the reference gets old values from TiKV, so they stay
            # consistent across a truncate/partition-drop; we RECONSTRUCT
            # them from table state + the lag window, and neither sees the
            # wipe — refuse loudly rather than emit stale pre-images
            if self._wipes():
                raise ValueError(
                    "mq_old_value cannot be combined with a data-wiping DDL "
                    "(truncate_table / drop_partition / truncate_partition): "
                    "reconstructed pre-images would span the wipe"
                )
            # pre-image reads are key-pruned via per-file key blooms; turn
            # the sidecar on so every commit this feed makes is prunable
            for t in self.tables.values():
                t.set_key_blooms(True)
        # admin registry gate (streaming/admin.py — pause/resume/remove): a
        # feed in any non-`normal` state processes nothing; processing
        # errors are reported back as state=failed with error history
        self.admin = admin
        self.admin_feed = feed_name
        # post_batch: optional callable(summary) invoked after a batch's
        # commits land — the hook a DERIVED INDEX subscribes with. Runs
        # inside the batch's try block: a hook failure fails the feed, the
        # streaming checkpoint replays the batch, and both the table merges
        # and an idempotent hook no-op on the replay.
        self.post_batch = post_batch
        # Changefeed identity (ChangeFeedInfo id analog): epoch ids must be
        # unique per FEED, not just per batch — Structured Streaming batch
        # ids restart at 0 for a new checkpoint, so a second feed over the
        # same table would otherwise collide with (and be swallowed by) the
        # first feed's committed epochs. Same checkpoint → same feed id →
        # replay idempotence is preserved.
        self.feed_id = hashlib.md5(
            os.path.abspath(checkpoint_dir).encode()
        ).hexdigest()[:8]
        self.finished = False
        self.batch_summaries: list[dict] = []
        # set when processing halts for a LIFECYCLE reason (paused/removed/
        # finished) rather than an error: run_available treats the resulting
        # stream termination as a clean stop, and no failed-state is recorded
        self._stop_reason: str | None = None

    def _wipes(self) -> bool:
        """Whether any table's DDL stream carries a data-wiping DDL."""
        return any(k in frontier.WIPES for r in self.registries.values() for k in r.ddl_kinds)

    # ---------- feed hooks ----------
    def _stream_schema(self) -> T.StructType:
        raise NotImplementedError

    def _part_stats(self, events: DataFrame, prev_resolved: int, spans: dict) -> list[dict]:
        raise NotImplementedError

    def _meta(self, batch_id: int, prev_resolved: int, spans: dict) -> tuple[int, dict, dict]:
        """Record/replay the batch's pre-state (frontier.batch_meta); returns
        (prev_resolved, spans, {table: pre-batch version})."""
        raise NotImplementedError

    def _summary(self, b: Batch) -> dict:
        raise NotImplementedError

    def _select(self, events: DataFrame) -> DataFrame:
        return events

    def _known(self) -> set | None:
        return None  # every table in the stream is this feed's

    def _release(self, ready: DataFrame) -> DataFrame:
        return ready

    def _apply_lifecycle(self, resolved: int) -> None:
        pass

    def _route(self, ready: DataFrame, name) -> DataFrame:
        return ready

    def _maintain(self, b: Batch) -> None:
        pass

    def _finish(self, b: Batch) -> None:
        pass

    def _mq_partition(self, table: LakeTable):
        raise NotImplementedError

    def _late_at(self, prev_resolved: int) -> str:
        return f"resolved frontier {prev_resolved}"

    def _epoch_id(self, batch_id: int, name, suffix: str) -> str:
        if name is None:
            return f"cf-{self.feed_id}-{batch_id:010d}-{suffix}"
        return f"cfm-{self.feed_id}-{batch_id:010d}-{name}-{suffix}"

    # ---------- pending tail ----------
    # A batch's tail is written under pending/batch-<id>; the PREVIOUS
    # batch's dir is kept (not just the newest) so a crash-replay of batch
    # N can re-read the exact pending input it consumed the first time —
    # those events are below N's frontier and gone from N's file input, so
    # without them a replayed old-value emission would lose messages and
    # shift pre-images. A batch with no tail writes an empty marker dir:
    # "latest dir below my id" is then always the right (possibly empty)
    # answer, never an already-consumed older tail.
    def _read_pending(self, batch_id: int) -> DataFrame | None:
        if not os.path.isdir(self.pending_dir):
            return None
        below = [
            (int(d.split("-")[1]), os.path.join(self.pending_dir, d))
            for d in os.listdir(self.pending_dir)
            if d.startswith("batch-") and int(d.split("-")[1]) < batch_id
        ]
        if not below:
            return None
        _, path = max(below)
        if not any(f.endswith(".parquet") for f in os.listdir(path)):
            return None  # empty marker: that batch had no tail
        return self.spark.read.schema(self._stream_schema()).parquet(path)

    def _write_tail(self, tail: DataFrame, batch_id: int, had_rows: bool) -> None:
        out = os.path.join(self.pending_dir, f"batch-{batch_id:010d}")
        if had_rows:
            # repartition, not coalesce: coalesce(4) would collapse the wide
            # row scan itself to 4 tasks; a shuffle of the (small) tail is
            # cheaper than an 8x-less-parallel scan.
            # dropDuplicates: a crash-replayed batch reads its own prior
            # tail from pending AND the same events from the batch input —
            # without this the rewritten tail doubles every row, and the
            # NEXT batch's old-value lag window would see each tail event
            # preceded by its own copy (wrong pre-image). The key includes
            # `table`: two tables' per-source (ts, seq) counters overlap.
            tail.dropDuplicates(["table", "commit_ts", "seq", "op", "doc_id"]).repartition(
                4
            ).write.mode("overwrite").parquet(out)
        else:
            os.makedirs(out, exist_ok=True)
        keep = {f"batch-{batch_id:010d}", f"batch-{batch_id - 1:010d}"}
        for d in os.listdir(self.pending_dir):
            if d.startswith("batch-") and d not in keep:
                shutil.rmtree(os.path.join(self.pending_dir, d), ignore_errors=True)

    # ---------- the micro-batch ----------
    def _gate(self) -> None:
        """Lifecycle gate, checked per micro-batch (the processor watches the
        feed info key for admin jobs, owner.go:995-1027). Raising BEFORE any
        work stops the stream WITHOUT committing this batch's offsets, so a
        later resume replays it — never skips it."""
        if self.finished:
            self._stop_reason = "finished"
            raise RuntimeError(
                f"changefeed {self.admin_feed or self.feed_id} finished at "
                f"target_ts={self.target_ts} (owner.go:938-946)"
            )
        if self.admin is not None and self.admin_feed:
            from .admin import STATE_NORMAL

            st = self.admin.state(self.admin_feed)
            if st != STATE_NORMAL:
                self._stop_reason = st
                raise RuntimeError(
                    f"changefeed {self.admin_feed} is {st}; processing "
                    "halted (owner.go:995-1027)"
                )

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self._gate()
        try:
            summary, resolved_raw = self._batch(batch_df, batch_id)
            self.batch_summaries.append(summary)
            if self.post_batch is not None:
                self.post_batch(summary)
            if self.admin is not None and self.admin_feed:
                self.admin.update_checkpoint(self.admin_feed, int(summary["resolved_ts"]))
            # finish detection (owner.go:938-946): once the raw frontier
            # reaches target_ts, everything within the window has been
            # released and applied — the feed is done
            if self.target_ts is not None and resolved_raw >= self.target_ts:
                self.finished = True
                if self.admin is not None and self.admin_feed:
                    self.admin.finish(self.admin_feed)
        except Exception as e:
            # real processing error → StateFailed with error history; a
            # lifecycle stop (pause/remove/finish raised above) is not a
            # failure and must not clobber the feed's state
            if self.admin is not None and self.admin_feed and self._stop_reason is None:
                self.admin.set_failed(self.admin_feed, f"{type(e).__name__}: {e}")
            raise

    def _batch(self, batch_df: DataFrame, batch_id: int) -> tuple[dict, int]:
        b = Batch(batch_id)
        t0 = time.time()
        pending = self._read_pending(batch_id)
        events = batch_df.unionByName(pending) if pending is not None else batch_df
        # NO persist: the wide-row columnar cache build costs more than the
        # re-scans it saves (part_stats and the tail probe are column-pruned
        # by Catalyst; only the apply and the tail write read full rows).
        events = self._select(events)
        spans = {
            name: frontier.SpanMap(
                t.part_watermarks, t.retired_positions, self.n_parts,
                self.stop_ts.get(name), name,
            )
            for name, t in self.tables.items()
        }
        prev_resolved = frontier.release_frontier(spans, self.stop_ts, self.n_parts)
        prev_resolved, spans, b.pre_versions = self._meta(batch_id, prev_resolved, spans)
        b.stats_all = self._part_stats(events, prev_resolved, spans)
        known = self._known()
        b.stats = [r for r in b.stats_all if known is None or r["table"] in known]
        b.timings["part_stats"] = time.time() - t0
        t0 = time.time()

        b.n_topo = frontier.check_contracts(
            b.stats, self.dynamic_spans, self._late_at(prev_resolved),
            frontier.late_reason(self.strict_watermarks, self.mq_old_value, self._wipes()),
        )
        # span topology: collect the (tiny) control-row set only when the
        # stats fold saw one — static feeds pay nothing
        topo = []
        if b.n_topo:
            cols = [*self.by, "commit_ts", "seq", "op", "doc_id"]
            topo = sorted(
                (
                    r
                    for r in ({"table": None, **x.asDict()} for x in
                              events.filter(_is_topo()).select(*cols).collect())
                    # another capture's tables are not this feed's business;
                    # a stopped (moved-away) table's post-stop topology
                    # belongs to the TARGET capture's manifest
                    if (known is None or r["table"] in known)
                    and not (
                        r["table"] in self.stop_ts
                        and int(r["commit_ts"]) > int(self.stop_ts[r["table"]])
                    )
                ),
                key=lambda r: (int(r["commit_ts"]), int(r["seq"])),
            )
        for name in {r["table"] for r in b.stats} | {r["table"] for r in topo}:
            if name not in spans:
                spans[name] = frontier.SpanMap({}, {}, cap=self.stop_ts.get(name), table=name)
        for name, span in spans.items():
            span.fold(
                [r for r in b.stats if r["table"] == name],
                [r for r in topo if r["table"] == name],
            )
        b.spans = spans
        resolved_raw = frontier.release_frontier(spans, self.stop_ts, self.n_parts)
        # target_ts clamp: the checkpoint stops AT target_ts (owner.go:940)
        b.resolved = resolved = (
            resolved_raw if self.target_ts is None else min(resolved_raw, self.target_ts)
        )

        # releasable prefix / carried tail (control events dropped: their
        # watermark contribution is persisted with the span maps)
        data = events.filter(_is_data())
        b.ready = self._release(data.filter(F.col("commit_ts") <= F.lit(resolved)))
        tail = data.filter(F.col("commit_ts") > F.lit(resolved))
        if self.target_ts is not None:
            # beyond-target events are DROPPED, not carried: the reference
            # puller subscribes [start_ts, target_ts) and never emits them
            tail = tail.filter(F.col("commit_ts") <= F.lit(self.target_ts))
        self._apply_lifecycle(resolved)

        routed = {}
        for name, table in self.tables.items():
            span = spans.get(name)
            sl = self._route(b.ready, name)
            reg = self.registries[name]
            b.barriers[name] = frontier.barriers(
                reg, resolved, span.resolved() if span else -1
            )
            # skip provably-empty slices by THIS table's min event ts: the
            # global min would defeat the skip for every idle table
            lo_evt = min(
                (int(r["min_ts"]) for r in b.stats
                 if r["table"] == name and r["min_ts"] is not None),
                default=None,
            )
            if name in self.stop_ts:
                # a stopped (moved-away) table's rows above stop_ts are
                # another capture's: an "empty" merge would still bump the
                # manifest FROM THIS CAPTURE'S STALE COPY and clobber the
                # target's commits. Skip outright when empty, and rebase a
                # legitimate ≤stop commit on the CURRENT manifest first
                # (epoch idempotence survives a refresh)
                if lo_evt is not None and lo_evt > int(self.stop_ts[name]):
                    lo_evt = None
                table.refresh()
            b.applied[name] = self._apply_slices(
                b, name, table, reg, sl, lo_evt, span.watermarks() if span else {}
            )
            routed[name] = sl
        self._persist_spans(b)
        b.timings["apply"] = time.time() - t0
        t0 = time.time()

        self._maintain(b)
        b.timings["compact"] = time.time() - t0
        t0 = time.time()
        if self.mq_dir is not None:
            self._emit_mq(b, routed)
            b.timings["mq"] = time.time() - t0
            t0 = time.time()

        # tail presence from part_stats (tail nonempty ⟺ some part's max is
        # above the frontier) — no probe job. UNFILTERED stats: an
        # unassigned table's rows must keep riding pending/ (move-table)
        had_tail = any(
            r["max_ts"] is not None and int(r["max_ts"]) > resolved
            for r in b.stats_all
        )
        self._write_tail(tail, batch_id, had_rows=had_tail)
        b.timings["tail"] = time.time() - t0
        t0 = time.time()
        self._finish(b)
        b.timings["lineage"] = time.time() - t0
        summary = self._summary(b)
        summary["timings"] = {k: round(v, 3) for k, v in b.timings.items()}
        return summary, resolved_raw

    def _apply_slices(self, b: Batch, name, table, reg, sl, lo_evt, watermarks) -> list:
        out = []
        for k, (lo, hi, ver, nonempty) in enumerate(
            frontier.slices(b.barriers[name], lo_evt, b.resolved)
        ):
            if nonempty:
                if lo is not None:
                    sl_k = sl.filter(F.col("commit_ts") > F.lit(lo))
                else:
                    sl_k = sl
                if hi is not None:
                    sl_k = sl_k.filter(F.col("commit_ts") <= F.lit(hi))
                # version hint from the slice's upper commit-ts bound skips
                # the mounter's per-slice distinct() job
                mounted = self._mount(
                    sl_k, table, reg, b.resolved if hi is None else hi, self.typed_mount
                )
                eid = self._epoch_id(b.id, name, f"s{k}")
                collapse = self.collapse_overrides.get(name, self.collapse)
                out.append((eid, replay_epoch(
                    table, mounted, eid, collapse=collapse, watermarks=watermarks
                )))
            if hi is not None:
                self._execute_barrier(name, table, reg, ver, hi)
        return out

    def _mount(self, sl, table, reg, hi_ts: int, typed: bool) -> DataFrame:
        """Decode to the table's current schema: every version at or below
        version_at(hi_ts) may appear, later ones cannot (the part_stats
        schema_version check guards that contract)."""
        from ..operators.mounter import mount_raw, mount_typed

        hint = None
        if len(reg.versions) > 1:
            hint = list(range(0, reg.version_at(hi_ts) + 1))
        if self.mode == "raw":
            return mount_raw(sl, reg, table.schema_version, versions_present=hint)
        if typed:
            return mount_typed(sl, reg, table.schema_version, versions_present=hint)
        return sl

    def _execute_barrier(self, name, table: LakeTable, reg, ver: int, ts: int) -> None:
        """Advance the lake to schema version `ver` at its DDL barrier `ts`.
        Guarded so a crash replay never re-diffs an already-advanced schema
        backwards; every commit is idempotent by its epoch id."""
        if table.schema_version >= ver:
            return
        kind, spec = reg.ddl_kinds[ver - 1], reg.ddl_specs[ver - 1]
        eid = f"ddl-{ts}" if name is None else f"ddl-{name}-{ts}"
        if kind == "truncate_table":
            # wipes every bucket AND bumps the version in one atomic commit
            table.update_schema("truncate_table", {}, eid)
        elif kind in ("add_partition", "drop_partition", "truncate_partition"):
            # partition ops (schema_storage.go:586-624): drop/truncate
            # tombstone the partition's rows at the barrier, then the
            # version bump keeps registry/lake lockstep
            if kind != "add_partition":
                table.delete_where(spec["where"], ts, f"{eid}#del")
            table.update_schema(kind, spec, eid)
        else:
            advance_lake_schema(table, reg.fields(ver), eid)

    def _persist_spans(self, b: Batch) -> None:
        """Commit span maps no merge carried (metadata-only, idempotent by
        epoch id). A topology batch must persist its retirements even when
        no slice merged: the topology event's file is consumed by the
        source and never re-read. Likewise resolved-ts control rows — unlike
        the data tail, which persists in pending/ — so a batch that merged
        nothing must persist their advance or the frontier rolls back on
        restart (the reference checkpoints forwarded resolved-ts,
        cdc/processor/processor.go)."""
        for name, table in self.tables.items():
            span = b.spans.get(name)
            if span is None:
                continue
            if span.retired_new:
                table.advance_watermarks(
                    span.watermarks(), self._epoch_id(b.id, name, "topo")
                )
            elif not any(st.get("committed") for _, st in b.applied[name]):
                if name in self.stop_ts:
                    # the target capture owns this table now: advancing from
                    # this capture's stale copy would clobber its commits
                    table.refresh()
                cur = table.part_watermarks
                wm = span.watermarks()
                if any(int(v) > int(cur.get(p, -1)) for p, v in wm.items()):
                    table.advance_watermarks(wm, self._epoch_id(b.id, name, "wm"))

    def _emit_mq(self, b: Batch, routed: dict) -> None:
        """Write this batch's messages: every table's released prefix
        encoded per the codec, partitioned by the dispatcher; then one
        resolved message per partition, written after the data
        (flush-then-broadcast order, mq.go:187-226); then the DDL messages
        of EVERY barrier ≤ resolved, not just the ones executed in this
        attempt — a crash between the schema commit and emission would
        otherwise lose the DDL downstream forever (re-emission is safe: the
        consumer's field-id diff no-ops once its table has advanced)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from ..functions.codec import KEY_FIELDS
        from .dispatch import identity_repartition
        from .protocols import encode_mq

        if self.mq_protocol == "avro" and self._avro_registry is None:
            from ..functions.avro_schema import AvroSchemaRegistry

            # a DDL in any batch bumps the subject version in this
            # feed-scoped registry, exactly like avro.go's re-register
            self._avro_registry = AvroSchemaRegistry()
        counts: dict = {}
        for r in b.stats:
            counts[r["table"]] = counts.get(r["table"], 0) + int(r["cnt"])
        key_json = F.to_json(F.struct(*[F.col(c) for c in KEY_FIELDS])).alias("key_json")
        out = None
        for name, sl in routed.items():
            table, reg = self.tables[name], self.registries[name]
            # the consumer decodes every message at the batch-final (post-
            # DDL) field list: raw payloads are mounted to it and re-encoded
            sl = self._mount(sl, table, reg, b.resolved, typed=False)
            part = self._mq_partition(table)
            # a table created THIS batch has no pre-batch version — every
            # key is a true insert against version 0
            pre = b.pre_versions.get(name, 0)
            if self.mq_old_value and self.mq_protocol == "open":
                # serialize-once: lag the encoded after-image instead of
                # typed old_<col> columns + a second to_json
                enc = attach_old_value_json(
                    table, sl, pre, key_json, part, n_events=counts.get(name)
                )
            else:
                if self.mq_old_value:
                    sl = attach_old_images(table, sl, pre, n_events=counts.get(name))
                enc = encode_mq(
                    sl, table, self.mq_protocol, key_json, part,
                    avro_registry=self._avro_registry, old_value=self.mq_old_value,
                )
            out = enc if out is None else out.unionByName(enc)
        batch_dir = os.path.join(self.mq_dir, f"batch-{b.id:010d}")
        if self.mq_framing == "sized":
            # the reference's kafka wire form: frame per-partition event
            # runs into size-bounded batch messages; msg_idx is the send
            # order (the framer's groupBy IS the partition shuffle — no
            # second exchange). Tables interleave within a partition's
            # frames in (commit_ts, seq) order, the shared-topic layout.
            from ..functions.codec import frame_sized_messages

            framed = frame_sized_messages(
                out, "partition", order_cols=("_ots", "_oseq"),
                max_batch_size=self.mq_max_batch_size,
                max_message_bytes=self.mq_max_message_bytes,
            )
            framed.sortWithinPartitions("partition", "msg_idx").write.mode(
                "overwrite"
            ).partitionBy("partition").parquet(batch_dir)
        else:
            # sortWithinPartitions: per-partition delivery order = commit
            # order (the reference's Kafka contract) — a local sort after
            # the shuffle, no extra exchange; parquet preserves row order
            # for the consumer. "partition" leads the sort so the dynamic-
            # partition writer's required ordering is already satisfied —
            # it would otherwise inject its own (non-stable) sort and
            # scramble the ts order back out
            identity_repartition(out, self.mq_partitions).sortWithinPartitions(
                "partition", "_ots", "_oseq"
            ).drop("_ots", "_oseq").write.mode(
                "overwrite"
            ).partitionBy("partition").parquet(batch_dir)

        def put(fname: str, cols: dict) -> None:
            tmp = os.path.join(batch_dir, f".{fname}.tmp")
            pq.write_table(pa.table(cols), tmp)
            os.replace(tmp, os.path.join(batch_dir, fname))

        # resolved-ts broadcast: one tiny driver-side file covering every
        # partition (consumers take min over partitions, main.go:531-544)
        put("resolved.parquet", {
            "partition": pa.array(list(range(self.mq_partitions)), pa.int32()),
            "key_json": pa.array(
                [json.dumps({"ts": b.resolved, "type": "resolved"})] * self.mq_partitions
            ),
        })
        # DDL messages (json.go:425-446): value carries the POST-ddl field
        # list (registry fields with stable ids) so the consumer evolves its
        # table by field-id diff, exactly like the primary sink. Zero-padded
        # ts: consumers glob-sort these files (ddl-100 < ddl-99 otherwise).
        for name in routed:
            reg = self.registries[name]
            for ver, ts in b.barriers[name]:
                key = {"ts": ts, "type": "ddl"}
                if name is not None:
                    key["table"] = name
                value = {"fields": reg.fields(ver), "ddl_type": reg.ddl_kinds[ver - 1],
                         "spec": reg.ddl_specs[ver - 1]}
                tag = "" if name is None else f"{name}-"
                put(f"ddl-{tag}{ts:020d}.parquet", {
                    "key_json": pa.array([json.dumps(key)]),
                    "value_json": pa.array([json.dumps(value)]),
                })

    # ---------- run ----------
    def _stream(self) -> DataFrame:
        r = self.spark.readStream.schema(self._stream_schema())
        if self.max_files_per_trigger:
            r = r.option("maxFilesPerTrigger", str(self.max_files_per_trigger))
        return r.parquet(self.binlog_dir)

    def run_available(self) -> list[dict]:
        """Process everything currently in the binlog dir (availableNow),
        then stop. Resumable: the streaming checkpoint + idempotent epochs.

        A feed whose admin state is not ``normal`` (paused/removed/failed),
        that already reached ``target_ts``, or that has no table yet (an
        idle capture: the checkpoint must not advance past files a future
        add_table needs) processes NOTHING — the `cdc cli changefeed pause`
        contract (owner.go:995-1027). A pause landing mid-run stops the
        stream cleanly at the next batch boundary without committing that
        batch (resume replays it)."""
        self._stop_reason = None
        if self.finished or not (self.tables or getattr(self, "create_specs", None)):
            return self.batch_summaries
        if self.admin is not None and self.admin_feed:
            from .admin import STATE_NORMAL

            if self.admin.state(self.admin_feed) != STATE_NORMAL:
                return self.batch_summaries
        q = (
            self._stream()
            .writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        except Exception:
            if self._stop_reason is None:
                raise  # real failure (already recorded as state=failed)
        return self.batch_summaries

    def start(self, processing_time: str = "5 seconds"):
        """Continuous micro-batching (production mode)."""
        return (
            self._stream()
            .writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(processingTime=processing_time)
            .start()
        )
