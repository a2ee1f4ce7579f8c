"""ChangeFeed — the single-table Structured Streaming replication job (the
whole TiCDC pipeline as one Spark streaming query).

The per-batch pipeline — pending tail, span frontier fold and topology,
contract checks, barrier slicing, mount + LWW collapse + idempotent merge,
MQ emission, lifecycle gate — is streaming.feed.FeedBase over the pure
control plane in streaming.frontier, shared with MultiTableChangeFeed.
What is ChangeFeed's own:

  * start_ts / target_ts: the replication window (§3.1, owner.go:938-946)
  * strict_watermarks: the late-event panic without a data reason
  * cyclic replication: echo filter + mark writes (pkg/cyclic)
  * MOR compaction and snapshot expiry per batch
  * the per-partition lineage row per epoch (TaskPosition,
    cdc/model/owner.go:77-86), appended transaction-adjacent (data commit
    is the source of truth; lineage is reconciled idempotently by key)

Its one table is named None in the shared per-table maps, which keeps its
epoch ids (cf-<feed>-<batch>-s<k>), DDL epoch ids (ddl-<ts>) and MQ DDL
files (ddl-<ts>.parquet) in their single-table form.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..engine.replay import check_collapse
from ..lake.table import LakeTable
from ..model import BINLOG_SCHEMA
from .feed import (  # noqa: F401 — attach_old_* stay importable from here
    RAW_BINLOG_SCHEMA,
    Batch,
    FeedBase,
    attach_old_images,
    attach_old_value_json,
    part_stats,
    schema_version_violation,
)
from .frontier import batch_meta
from .registry import SchemaRegistry

LINEAGE_SCHEMA = (
    "batch_id long, epoch_id string, part int, event_count long, "
    "max_commit_ts long, delete_count long, resolved_ts long, committed boolean"
)


class ChangeFeed(FeedBase):
    typed_mount = True

    def __init__(
        self,
        table: LakeTable,
        binlog_dir: str,
        checkpoint_dir: str,
        mode: str = "typed",  # "typed" (columnar binlog) | "raw" (payload json)
        ddl_rows: list | None = None,  # ordered (commit_ts, ddl_type, spec) dicts/Rows
        lineage_dir: str | None = None,
        pending_dir: str | None = None,
        max_files_per_trigger: int | None = None,
        compact_max_deltas: int = 64,
        start_ts: int | None = None,
        strict_watermarks: bool = False,
        mq_dir: str | None = None,
        mq_partitions: int = 16,
        mq_dispatch_rule: str = "index-value",
        mq_protocol: str = "open",
        mq_old_value: bool = False,
        mq_framing: str = "row",
        mq_max_batch_size: int = 16,
        mq_max_message_bytes: int = 64 * 1024 * 1024,
        expire_keep_last: int | None = None,
        cyclic: dict | None = None,
        target_ts: int | None = None,
        admin=None,
        feed_name: str | None = None,
        post_batch=None,
        collapse: str = "bucket_window",
        n_parts: int | None = None,
        dynamic_spans: bool = False,
    ):
        """n_parts: the binlog's partition universe. The reference's frontier
        is INITIALIZED with the full span set at feed start (cdc/puller/
        frontier), so an unseen span holds the resolved-ts back; without the
        universe, a partition whose files all arrive in a later micro-batch
        delivers events below an already-advanced frontier ("late"), which
        set-oriented LWW tolerates but barrier-ordered DATA operations
        (truncate_table, drop/truncate_partition) do not. Pass it whenever
        the feed carries such DDLs; late events are fatal in that case.

        start_ts: replicate only events with commit_ts > start_ts — the
        `changefeed create --start-ts` contract (SURVEY.md §3.1): state at or
        below start_ts comes from the bootstrap snapshot
        (LakeTable.bootstrap), not the log.

        post_batch: optional callable(summary_dict) invoked after a batch's
        commits land (table merges + tail + lineage + summary) — the hook a
        DERIVED INDEX subscribes with (DerivedIndexFeed.sync), so secondary
        tables follow the feed with per-micro-batch lag. Runs inside the
        batch's try block: a hook failure fails the feed, the streaming
        checkpoint replays the batch, and both the table merges and an
        idempotent hook no-op on the replay.

        strict_watermarks: enforce the puller's late-event contract
        (cdc/puller/puller.go:163-168 — an event arriving below the already-
        resolved frontier is a PANIC, not a silent drop). Default off: the
        conditional merge makes late events harmless (they lose recency), so
        the tolerant mode is strictly safer; strict mode exists to surface
        upstream ordering bugs the way the reference does.

        dynamic_spans: accept span-topology control events (op='S' split /
        op='M' merge, model.TOPOLOGY_OPS) that rewrite the part universe
        mid-stream — the kv-client region-change contract (children
        resubscribe at the parent's checkpoint; the parent's stream ends).
        Off by default: a topology event in a static feed is a fatal
        contract violation, and the static path pays ZERO extra jobs
        (detection rides the existing per-batch part_stats fold)."""
        self.table = table
        self.tables = {None: table}
        ddls = [
            (r["commit_ts"], r["ddl_type"], json.loads(r["spec"]) if isinstance(r["spec"], str) else r["spec"])
            for r in (ddl_rows or [])
        ]
        self.registry = SchemaRegistry([dict(f) for f in table._manifest["schemas"]["0"]], ddls)
        self.registries = {None: self.registry}
        self.lineage_dir = lineage_dir
        self.compact_max_deltas = compact_max_deltas
        self.start_ts = start_ts
        self.strict_watermarks = strict_watermarks
        # LWW collapse strategy for the apply path (engine.replay.COLLAPSE):
        # "bucket_window" (default, fastest plan) or "agg" (adversarial
        # per-key skew: a hot region's key collapses map-side)
        self.collapse = check_collapse(collapse)
        # partition routing rule for MQ emission (§2.10): "index-value"
        # (default — per-key ordering), "table", "ts", or "default"
        self.mq_dispatch_rule = mq_dispatch_rule
        # GC cadence (owner safepoint advance, cdc/owner.go:752-795): when
        # set, each batch expires snapshots beyond the last N — bounds
        # metadata + orphan data growth on a long-running feed. Off by
        # default (keeps time travel open for ad-hoc reads).
        self.expire_keep_last = expire_keep_last
        # Cyclic (bidirectional) replication (pkg/cyclic): dict with
        #   replica_id          — id of the SOURCE cluster this feed reads
        #   filter_replica_ids  — origins to drop (echoes a peer owns)
        #   source_marks_dir    — the source cluster's repl_mark table
        #                         (stamping + echo filter + loopback check)
        #   marks_dir           — where THIS feed writes marks for rows it
        #                         applies downstream (the mark.go write side)
        self.cyclic = dict(cyclic) if cyclic else None
        # target_ts (model/changefeed.go:74-75): replicate [start_ts,
        # target_ts] only. The checkpoint never advances past target_ts;
        # once the raw frontier reaches it the feed is FINISHED
        # (owner.go:938-946 AdminFinish) and processes nothing further.
        # Events beyond target_ts are outside the replication window — never
        # applied, never carried in the pending tail.
        self.target_ts = target_ts
        super().__init__(
            table.spark, binlog_dir, checkpoint_dir, mode=mode,
            max_files_per_trigger=max_files_per_trigger, pending_dir=pending_dir,
            n_parts=n_parts, dynamic_spans=dynamic_spans, collapse_overrides={},
            mq_dir=mq_dir, mq_partitions=mq_partitions, mq_protocol=mq_protocol,
            mq_old_value=mq_old_value, mq_framing=mq_framing,
            mq_max_batch_size=mq_max_batch_size,
            mq_max_message_bytes=mq_max_message_bytes, admin=admin,
            feed_name=feed_name, post_batch=post_batch,
        )

    # ---------- feed hooks ----------
    def _stream_schema(self) -> T.StructType:
        """Raw mode: the raw envelope. Typed mode reads with meta cols + the
        FINAL registry version's payload fields: files written before an
        add_column read as NULL. (widen/rename need raw mode — a single
        physical schema can't carry two names/types for one field.)"""
        if self.mode == "raw":
            return RAW_BINLOG_SCHEMA
        meta = [f for f in BINLOG_SCHEMA.fields if f.name in
                ("commit_ts", "seq", "table", "op", "doc_id", "part", "schema_version")]
        payload = [
            T.StructField(f["name"], T._parse_datatype_string(f["type"]))
            for f in self.registry.fields(len(self.registry.versions) - 1)
            if f["name"] != "doc_id"
        ]
        return T.StructType(payload + meta)

    def _select(self, events: DataFrame) -> DataFrame:
        if self.start_ts is not None:
            # pre-start events belong to the bootstrap snapshot (§3.1)
            events = events.filter(F.col("commit_ts") > F.lit(self.start_ts))
        return events

    def _meta(self, batch_id, prev_resolved, spans):
        # table version BEFORE this batch's merges — the old-value MQ mode
        # reads pre-images from this snapshot (emission runs after the
        # apply, so `current` already contains the batch)
        rec = batch_meta(self.checkpoint_dir, batch_id, {
            "prev_resolved": prev_resolved, "pre_version": self.table.version,
        })
        return int(rec["prev_resolved"]), spans, {None: int(rec["pre_version"])}

    def _part_stats(self, events, prev_resolved, spans):
        # NEW events at or below the persisted frontier violate the puller
        # contract (late arrivals; the carried tail is above it)
        return part_stats(
            events, ["part"], F.col("commit_ts") <= F.lit(prev_resolved),
            schema_version_violation(self.registry.ddl_ts),
        )

    def _release(self, ready: DataFrame) -> DataFrame:
        # cyclic replication: stamp origins from the source cluster's mark
        # table, drop echoes, refuse loopbacks. Runs on the released prefix
        # only — echoes still advance watermarks (they are real stream
        # positions), they just don't re-apply.
        if not (self.cyclic and self.cyclic.get("source_marks_dir")):
            return ready
        from ..operators.cyclic import filter_echoes, loopback_check, read_marks

        marks = read_marks(self.spark, self.cyclic["source_marks_dir"])
        n_loop = loopback_check(ready, marks, self.cyclic["replica_id"])
        if n_loop:
            raise RuntimeError(
                f"cyclic loopback detected: {n_loop} events marked with "
                f"the local replica id {self.cyclic['replica_id']} "
                "(pkg/cyclic/filter.go:49-53)"
            )
        return filter_echoes(
            ready, marks, self.cyclic["replica_id"],
            self.cyclic.get("filter_replica_ids", []),
        )

    def _maintain(self, b: Batch) -> None:
        # cyclic write side (mark.go): one mark row per applied txn,
        # carrying its origin (the stamp when source marks exist, else the
        # source replica id). Idempotent per batch id.
        if self.cyclic and self.cyclic.get("marks_dir"):
            from ..operators.cyclic import mark_rows, write_marks

            origin = (
                "origin_replica"
                if "origin_replica" in b.ready.columns
                else self.cyclic["replica_id"]
            )
            write_marks(mark_rows(b.ready, origin), self.cyclic["marks_dir"], b.id)
        # MOR hygiene: fold deltas when a bucket accumulates too many
        self.table.maybe_compact(self.compact_max_deltas)

    def _finish(self, b: Batch) -> None:
        if self.expire_keep_last is not None:
            # after MQ emission, which reads the pre-batch snapshot; in
            # old-value mode the floor keeps back to pre_version — a crash
            # before the streaming checkpoint commit replays the batch, and
            # the replayed emission must still read that snapshot
            keep = self.expire_keep_last
            if self.mq_old_value:
                keep = max(keep, self.table.version - b.pre_versions[None] + 1)
            self.table.expire_versions(keep_last=keep)
        if self.lineage_dir:
            self._write_lineage(b.id, b.applied[None], b.stats, b.resolved)

    def _mq_partition(self, table: LakeTable):
        from .dispatch import dispatcher_for

        return dispatcher_for(self.mq_dispatch_rule, self.mq_partitions, key_col="doc_id")

    def _summary(self, b: Batch) -> dict:
        span = b.spans[None]
        return {
            "batch_id": b.id,
            "resolved_ts": b.resolved,
            "slices": len(b.barriers[None]) + 1,
            "events": sum(int(r["cnt"]) for r in b.stats),
            **(
                {"span_changes": b.n_topo, "spans_retired": sorted(span.retired_new)}
                if b.n_topo
                else {}
            ),
        }

    def _write_lineage(self, batch_id, epoch_stats, part_stats, resolved) -> None:
        """Driver-side metadata write (32-ish rows/batch): plain pyarrow, no
        Spark job — a createDataFrame round trip measured ~4.5s/batch."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = {k: [] for k in (
            "batch_id", "epoch_id", "part", "event_count", "max_commit_ts",
            "delete_count", "resolved_ts", "committed")}
        for epoch_id, st in epoch_stats:
            for r in part_stats:
                cols["batch_id"].append(batch_id)
                cols["epoch_id"].append(epoch_id)
                cols["part"].append(int(r["part"]))
                cols["event_count"].append(int(r["cnt"]))
                cols["max_commit_ts"].append(
                    -1 if r["max_ts"] is None else int(r["max_ts"])
                )
                cols["delete_count"].append(int(r["dels"]))
                cols["resolved_ts"].append(int(resolved))
                cols["committed"].append(bool(st.get("committed", False)))
        tbl = pa.table(
            {
                "batch_id": pa.array(cols["batch_id"], pa.int64()),
                "epoch_id": pa.array(cols["epoch_id"], pa.string()),
                "part": pa.array(cols["part"], pa.int32()),
                "event_count": pa.array(cols["event_count"], pa.int64()),
                "max_commit_ts": pa.array(cols["max_commit_ts"], pa.int64()),
                "delete_count": pa.array(cols["delete_count"], pa.int64()),
                "resolved_ts": pa.array(cols["resolved_ts"], pa.int64()),
                "committed": pa.array(cols["committed"], pa.bool_()),
            }
        )
        out = os.path.join(self.lineage_dir, f"batch-{batch_id:010d}")
        os.makedirs(out, exist_ok=True)
        tmp = os.path.join(out, ".lineage.parquet.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(out, "lineage.parquet"))

    def stats(self) -> dict:
        """Sink-statistics fold (cdc/sink/statistics.go:29-132): running
        totals + rates over the feed's processed batches."""
        rows = sum(s["events"] for s in self.batch_summaries)
        secs = sum(
            sum(s.get("timings", {}).values()) for s in self.batch_summaries
        )
        return {
            "batches": len(self.batch_summaries),
            "total_rows": rows,
            "last_resolved_ts": (
                self.batch_summaries[-1]["resolved_ts"] if self.batch_summaries else None
            ),
            "busy_seconds": round(secs, 3),
            "rows_per_sec": round(rows / secs, 1) if secs else None,
        }

    def read_lineage(self) -> DataFrame:
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(
            os.path.join(self.lineage_dir, "batch-*")
        )

    def lag_report(self) -> DataFrame:
        """Per-partition replication lag from the lineage table (the
        checkpoint/resolved-ts lag gauges, cdc/processor.go:360-383): each
        partition's latest position vs the global max commit-ts."""
        lin = self.read_lineage()
        last = lin.groupBy("part").agg(
            F.max("max_commit_ts").alias("part_max_ts"),
            F.max("resolved_ts").alias("part_resolved"),
            F.sum("event_count").alias("events_seen"),
        )
        g = last.agg(F.max("part_max_ts").alias("global_max"))
        return last.crossJoin(F.broadcast(g)).select(
            "part",
            "events_seen",
            "part_max_ts",
            "part_resolved",
            # how far this partition's own position trails the most-advanced
            # partition (the per-partition resolved-ts lag gauge); the
            # global applied frontier is min(part_max_ts) = part_resolved
            (F.col("global_max") - F.col("part_max_ts")).alias("lag_us"),
        )
