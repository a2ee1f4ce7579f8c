"""Multi-table changefeed — one stream, many target tables.

Reference: a TiCDC changefeed replicates EVERY table matched by its filter;
the processor builds one pipeline per table (cdc/processor/processor.go:
86-151, table pipelines table.go:136-169) and tables are added/removed at a
boundary ts (handleTableOperation, processor.go:322-447): an added table
only receives events with commit-ts ABOVE its boundary, a removed table
stops at its stop-ts.

Ours: one Structured Streaming source; per micro-batch the global resolved
frontier is computed once (the owner's min-over-positions), then the
releasable prefix is routed per table (the table dispatcher, §2.10) and
LWW-merged into each table's lake independently, with per-table epoch ids —
a replayed batch re-skips exactly the tables that already committed.

The per-batch pipeline — pending tail, span frontier fold and topology,
contract checks, barrier slicing, mount + LWW collapse + idempotent merge,
MQ emission, lifecycle gate — is the one the single-table ChangeFeed runs
(streaming.feed.FeedBase over streaming.frontier). What this class owns:

  * per-(table, part) span maps and late thresholds (a broadcast join in
    the part_stats job), folded into a union release frontier
  * the known-table filter: another capture's tables ride the tail only
  * routing: add-boundaries, stop-ts (remove/move-table) and lifecycle
    windows; table lifecycle DDL (create/drop/recover/rename_table,
    drop_schema) that grows and shrinks the table set in-stream
  * its wire form: per-table epoch ids (cfm-<feed>-<batch>-<table>-s<k>),
    the dispatcher rule set, and per-table MQ DDL files
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lake.table import LakeTable
from ..model import BINLOG_SCHEMA
from .feed import RAW_BINLOG_SCHEMA, Batch, FeedBase, part_stats, schema_version_violation
from .frontier import SpanMap, batch_meta


class MultiTableChangeFeed(FeedBase):
    by = ("table", "part")

    def __init__(
        self,
        tables: dict[str, LakeTable],
        binlog_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int | None = None,
        boundaries: dict[str, int] | None = None,  # table -> add-boundary ts
        stop_ts: dict[str, int] | None = None,  # table -> stop-at ts
        ddl_rows: list | None = None,  # flat (commit_ts, ddl_type, table, spec)
        mode: str = "typed",  # "typed" (columnar binlog) | "raw" (payload json)
        mq_dir: str | None = None,
        mq_partitions: int = 16,
        mq_dispatch_rules: list[tuple[str, str]] | None = None,
        mq_protocol: str = "open",
        mq_old_value: bool = False,
        mq_framing: str = "row",
        mq_max_batch_size: int = 16,
        mq_max_message_bytes: int = 64 * 1024 * 1024,
        admin=None,
        feed_name: str | None = None,
        post_batch=None,
        collapse_overrides: dict[str, str] | None = None,
        table_root: str | None = None,
        n_parts: int | None = None,
        dynamic_spans: bool = False,
        spark=None,
    ):
        """ddl_rows: the changefeed's single DDL stream, routed to tables by
        the `table` field (the owner's ddlJobHistory, cdc/changefeed.go:
        956-971). Each table's barriers apply independently at its own
        finished-ts, splitting that table's slice.

        Lifecycle DDL (create_table / drop_table / recover_table — the
        reference applies these in its schema snapshot,
        cdc/entry/schema_storage.go:539-624; stressed by
        tests/multi_source/main.go:74-131) GROW/SHRINK the table set
        in-stream: a create_table row (spec: {"fields": [...], "key":
        "doc_id", "n_buckets": 16}) materializes a new LakeTable under
        `table_root` once the feed's frontier passes its finished-ts, with
        its add-boundary at that ts; drop_table stops the table at its ts
        (data RETAINED — TiDB drop is deferred GC, which is exactly what
        makes RECOVER TABLE possible); recover_table resumes it. All are
        pure functions of the batch's resolved frontier, so crash
        replays re-derive the identical table set.

        rename_table (spec: {"to": "<new name>"}; ActionRenameTable =
        dropTable + createTable, schema_storage.go:566-577): the upstream
        table continues under a new name — the old name's window closes at
        the rename ts, the new name's opens there, both resolve to the SAME
        LakeTable and one column-DDL chain, and span watermarks stay
        continuous across the rename (a pre-rename straggler arriving after
        post-rename events advanced its span counts late, exactly like the
        reference where the old table id's puller ended at the rename).

        mode="typed": one physical stream schema = union of every table's
        schema versions; supports add/drop DDLs (a single physical column
        cannot carry two names/types, so widen/rename need raw).
        mode="raw": payload is a JSON string decoded per (table, version)
        by the mounter — every DDL kind supported.

        n_parts / dynamic_spans: as for ChangeFeed, but per table — the
        declared universe seeds every table's own span map (gating its
        data DDLs, not the union release frontier), and a (table, part)
        span splits/merges within its own table's universe (regions are
        per-table key ranges in the reference).

        collapse_overrides: table -> LWW collapse ("agg" for tables with
        adversarial per-key skew; see ChangeFeed.collapse)."""
        if not tables and spark is None:
            # an EMPTY capture is a legal cluster member (the reference's
            # idle capture waiting for the owner to assign tables) — but it
            # needs an explicit SparkSession since there is no table to
            # borrow one from
            raise ValueError("need at least one table (or spark= for an empty capture)")
        self.tables = dict(tables)
        self.boundaries = dict(boundaries or {})
        # multi-table MQ sink: one batch dir shared by every table, rows
        # routed by the dispatcher rule set
        self.mq_dispatch_rules = list(mq_dispatch_rules or [])
        # per-table schema registries built from the routed DDL stream;
        # lifecycle DDLs are split out first (they change the TABLE SET)
        import json as _json

        from .registry import LIFECYCLE_DDL, SCHEMA_DDL, SchemaRegistry

        self.table_root = table_root or os.path.join(
            checkpoint_dir, "created_tables"
        )
        # [(finished_ts, kind, table, spec)] in ts order
        self.lifecycle: list[tuple[int, str, str, dict]] = []
        # table -> create spec, for _stream_schema before materialization
        self.create_specs: dict[str, dict] = {}
        self.dropped: dict[str, int] = {}
        self.registries: dict[str, SchemaRegistry] = {}
        # database-level DDL (ActionDropSchema, schema_storage.go:561-565):
        # dropping a database stops EVERY feed table named "<schema>.<t>"
        # at the same barrier — expanded here into per-table drop_table
        # entries so windows/apply/replay all see ordinary lifecycle rows.
        # create_schema / modify_schema are metadata-only (tables arrive
        # via create_table) and are absorbed.
        _rows: list = []
        _drop_schemas: list[tuple[int, str]] = []
        for r in ddl_rows or []:
            if r["ddl_type"] in SCHEMA_DDL:
                if r["ddl_type"] == "drop_schema":
                    _drop_schemas.append((int(r["commit_ts"]), r["table"]))
                continue
            _rows.append(r)
        if _drop_schemas:
            # earliest ts each name can carry data (None = configured table)
            avail: dict[str, int | None] = {n: None for n in self.tables}
            for r in _rows:
                sp = (
                    r["spec"]
                    if isinstance(r["spec"], dict)
                    else _json.loads(r["spec"])
                )
                if r["ddl_type"] == "create_table":
                    ts0 = int(r["commit_ts"])
                    cur = avail.get(r["table"])
                    if cur is None and r["table"] not in avail:
                        avail[r["table"]] = ts0
                    elif cur is not None:
                        avail[r["table"]] = min(cur, ts0)
                elif r["ddl_type"] == "rename_table":
                    avail.setdefault(sp["to"], int(r["commit_ts"]))
            for ts0, schema in _drop_schemas:
                pfx = schema + "."
                for name, since in sorted(avail.items()):
                    if name.startswith(pfx) and (since is None or since <= ts0):
                        _rows.append(
                            {
                                "table": name,
                                "ddl_type": "drop_table",
                                "commit_ts": ts0,
                                "spec": {},
                            }
                        )
        by_table: dict[str, list] = {}
        for r in _rows:
            spec = r["spec"] if isinstance(r["spec"], dict) else _json.loads(r["spec"])
            if r["ddl_type"] in LIFECYCLE_DDL:
                self.lifecycle.append(
                    (int(r["commit_ts"]), r["ddl_type"], r["table"], spec)
                )
                if r["ddl_type"] == "create_table":
                    if r["table"] in self.tables:
                        raise ValueError(
                            f"create_table DDL for already-configured table "
                            f"{r['table']!r}"
                        )
                    self.create_specs[r["table"]] = spec
                continue
            by_table.setdefault(r["table"], []).append(
                (int(r["commit_ts"]), r["ddl_type"], spec)
            )
        self.lifecycle.sort(key=lambda x: x[0])
        # rename_table (ActionRenameTable, schema_storage.go:566-577 =
        # dropTable + createTable): the upstream table CONTINUES under a new
        # name — the old name's window closes at the rename ts, the new
        # name's opens there, and BOTH names resolve to the same LakeTable
        # and the same column-DDL chain (one SchemaRegistry object). Span
        # watermarks live in the shared manifest, so per-(table, part)
        # ordering is continuous across the rename.
        self.rename_links: dict[str, tuple[int, str]] = {}  # new -> (ts, old)
        for ts, kind, name, spec in self.lifecycle:
            if kind != "rename_table":
                continue
            new = spec["to"]
            if (
                new in self.tables
                or new in self.create_specs
                or new in self.rename_links
            ):
                raise ValueError(
                    f"rename_table target {new!r} already names a feed table"
                )
            root = name
            while root in self.rename_links:
                root = self.rename_links[root][1]
            if root not in self.tables and root not in self.create_specs:
                raise ValueError(
                    f"rename_table source {name!r} is not a feed table"
                )
            self.rename_links[new] = (ts, name)
            # column DDLs addressed to the NEW name continue the old chain
            moved = [d for d in by_table.pop(new, []) if d[0] > ts]
            if moved:
                by_table.setdefault(root, []).extend(moved)
        # per-table ACTIVE WINDOWS ((lo exclusive, hi inclusive], hi=None =
        # open): a table's applied event set is the union of its windows —
        # a pure function of the DDL config, so it cannot depend on how
        # micro-batches happen to align with the barriers (events above the
        # resolved frontier are withheld by the release filter anyway)
        self.lifecycle_windows: dict[str, list[list[int | None]]] = {}
        for ts, kind, name, spec in self.lifecycle:
            wins = self.lifecycle_windows.setdefault(name, [])
            if kind == "create_table":
                wins.append([ts, None])
            elif kind == "drop_table":
                if not wins:  # configured table: open since the beginning
                    wins.append([None, None])
                if wins[-1][1] is None:
                    wins[-1][1] = ts
            elif kind == "recover_table":
                wins.append([ts, None])
            elif kind == "rename_table":
                # close the old name, open the new one at the same barrier
                if not wins:
                    wins.append([None, None])
                if wins[-1][1] is None:
                    wins[-1][1] = ts
                self.lifecycle_windows.setdefault(spec["to"], []).append(
                    [ts, None]
                )
        for name, tbl in self.tables.items():
            base = [dict(f) for f in tbl._manifest["schemas"]["0"]]
            self.registries[name] = SchemaRegistry(
                base, sorted(by_table.get(name, []), key=lambda x: x[0])
            )
        # registries for in-stream created tables exist from the start (the
        # typed stream schema is fixed at stream build time and must union
        # their fields); only later column DDLs apply to them
        for name, spec in self.create_specs.items():
            base = [dict(f) for f in spec["fields"]]
            create_ts = next(
                ts for ts, k, t, _ in self.lifecycle
                if k == "create_table" and t == name
            )
            self.registries[name] = SchemaRegistry(
                base,
                sorted(
                    (d for d in by_table.get(name, []) if d[0] > create_ts),
                    key=lambda x: x[0],
                ),
            )
        # renamed names alias their source's registry (ONE chain object) —
        # rename_links iterates in lifecycle ts order, so chained renames
        # resolve left to right
        for new, (_ts, old) in self.rename_links.items():
            self.registries[new] = self.registries[old]
        super().__init__(
            spark if spark is not None else next(iter(tables.values())).spark,
            binlog_dir, checkpoint_dir, mode=mode,
            max_files_per_trigger=max_files_per_trigger, pending_dir=None,
            n_parts=n_parts, dynamic_spans=dynamic_spans,
            collapse_overrides=collapse_overrides or {}, mq_dir=mq_dir,
            mq_partitions=mq_partitions, mq_protocol=mq_protocol,
            mq_old_value=mq_old_value, mq_framing=mq_framing,
            mq_max_batch_size=mq_max_batch_size,
            mq_max_message_bytes=mq_max_message_bytes, admin=admin,
            feed_name=feed_name, post_batch=post_batch, stop_ts=stop_ts,
        )

    # -- table operations between batches (handleTableOperation analog) --
    def add_table(self, name: str, table: LakeTable, boundary_ts: int) -> None:
        """Start replicating `name` from boundary_ts (exclusive): events at
        or below the boundary are the pre-existing snapshot's business."""
        from .registry import SchemaRegistry

        self.tables[name] = table
        if self.mq_old_value:
            # mirror __init__ / the create-lifecycle path: a moved-in or
            # adopted table must carry key blooms on its future commits or
            # its sparse pre-image reads silently lose file pruning
            table.set_key_blooms(True)
        self.boundaries[name] = boundary_ts
        # a table that previously moved AWAY from this capture and now
        # moves BACK is live again — a stale stop_ts would silently drop
        # every event above the old stop forever (found by the randomized
        # scheduler soak: move ping-pong lost all post-return data)
        self.stop_ts.pop(name, None)
        # seed from the CURRENT schema, not the base version: a moved or
        # adopted table may have evolved (add_column …) before arriving —
        # seeding schemas["0"] would leave the feed's union stream schema
        # and the merge projection missing the later columns
        self.registries.setdefault(
            name, SchemaRegistry([dict(f) for f in table.current_fields])
        )

    def remove_table(self, name: str, stop_at_ts: int) -> None:
        """Stop `name` at stop_at_ts (inclusive); later events are dropped
        (pipeline/sink.go:199-207 stop-at-target-ts)."""
        self.stop_ts[name] = stop_at_ts

    def _apply_lifecycle(self, resolved: int) -> None:
        """Materialize create/drop/recover-table DDLs whose finished-ts is
        at or below the batch's resolved frontier. Pure function of
        (lifecycle config, resolved) — a crash-replayed batch re-derives the
        same table set; LakeTable creation is guarded on the CURRENT pointer
        so a replay reopens instead of resetting."""
        from ..lake.table import LakeTable

        for ts, kind, name, spec in self.lifecycle:
            if ts > resolved:
                break
            if kind == "create_table":
                if name not in self.tables:
                    root = os.path.join(self.table_root, name)
                    if os.path.exists(os.path.join(root, "_manifests", "CURRENT")):
                        t = LakeTable(self.spark, root)
                    else:
                        t = LakeTable.create(
                            self.spark,
                            root,
                            fields=[dict(f) for f in spec["fields"]],
                            n_buckets=int(spec.get("n_buckets", 16)),
                            key_col=spec.get("key", "doc_id"),
                        )
                    if self.mq_old_value:
                        t.set_key_blooms(True)
                    self.tables[name] = t
                    # DML at commit_ts == create finished-ts decodes against
                    # the pre-create snapshot (no table) — excluded by the
                    # window's exclusive lower bound (mounter.go:242-247)
            elif kind == "drop_table":
                # data RETAINED (TiDB drop is deferred GC — which is what
                # makes RECOVER TABLE possible); the window list already
                # excludes post-drop events, this only tracks status
                if name in self.tables:
                    self.dropped[name] = ts
            elif kind == "recover_table":
                self.dropped.pop(name, None)
            elif kind == "rename_table":
                new = spec["to"]
                if new not in self.tables and name in self.tables:
                    # same LakeTable under the new handle; the old name stays
                    # registered for its closed window's (possibly still
                    # releasing) pre-rename events
                    self.tables[new] = self.tables[name]

    # ---------------- feed hooks ----------------
    def _stream_schema(self):
        """Raw mode: the fixed raw envelope. Typed mode: meta columns + the
        UNION of every table's payload fields across all schema versions:
        files written before an add_column read the new column as NULL (same
        rule as ChangeFeed._stream_schema, but across tables — a name
        used by two tables must have one type)."""
        from pyspark.sql import types as T

        if self.mode == "raw":
            return RAW_BINLOG_SCHEMA

        meta = [
            f for f in BINLOG_SCHEMA.fields
            if f.name in ("commit_ts", "seq", "table", "op", "doc_id", "part", "schema_version")
        ]
        payload: dict[str, str] = {}
        for name, reg in self.registries.items():
            # a renamed handle shares its source's table/spec
            src = name
            while src not in self.tables and src in self.rename_links:
                src = self.rename_links[src][1]
            key = (
                self.tables[src].key_col
                if src in self.tables
                else self.create_specs[src].get("key", "doc_id")
            )
            # union over EVERY version, not just the final one: a pre-barrier
            # slice still reads columns a later DDL drops
            for ver_fields in reg.versions:
                for f in ver_fields:
                    if f["name"] == key:
                        continue
                    prev = payload.get(f["name"])
                    if prev is not None and prev != f["type"]:
                        raise ValueError(
                            f"column {f['name']!r} has conflicting types across "
                            f"tables/versions: {prev} vs {f['type']}"
                        )
                    payload[f["name"]] = f["type"]
        pf = [
            T.StructField(n, T._parse_datatype_string(t)) for n, t in payload.items()
        ]
        return T.StructType(pf + meta)

    def _meta(self, batch_id, prev_resolved, spans):
        # the pre-batch frontier, every table's span map (the late check
        # compares against it) and pre-batch version (the old-value
        # pre-image snapshot)
        rec = batch_meta(self.checkpoint_dir, batch_id, {
            "prev_resolved": prev_resolved,
            "prev_spans": {name: s.pos for name, s in spans.items()},
            "pre_versions": {name: t.version for name, t in self.tables.items()},
        })
        spans = {
            name: SpanMap(
                m, self.tables[name].retired_positions if name in self.tables else {},
                cap=self.stop_ts.get(name), table=name,
            )
            for name, m in rec["prev_spans"].items()
        }
        pre = {k: int(v) for k, v in rec["pre_versions"].items()}
        return int(rec["prev_resolved"]), spans, pre

    def _part_stats(self, events, prev_resolved, spans):
        # schema_version contract guard, per table (rows routed by `table`)
        sv_viol = F.lit(0)
        for name, reg in self.registries.items():
            if reg.ddl_ts:
                sv_viol = sv_viol + F.when(
                    F.col("table") == F.lit(name),
                    schema_version_violation(reg.ddl_ts),
                ).otherwise(0)
        # late threshold per (table, part): an event is late only against
        # its OWN span's RELEASED watermark (puller.go:163-168 is per
        # puller) = min(span's seen max, the released union frontier) —
        # the min clamp excludes the carried pending tail (above the
        # frontier, never released) and spans that never reported (-1,
        # promised nothing). The single-table feed's global-min check is
        # the one-table special case of exactly this rule. Thresholds ship
        # as a BROADCAST side table, not literals baked into the plan:
        # O(tables × parts) rows is tiny to broadcast but would be a
        # plan-size explosion as an expression at thousands of tables.
        thr_rows = [
            (name, p, min(v, prev_resolved))
            for name, s in spans.items()
            for p, v in s.pos.items()
        ]
        thr = F.lit(-1)
        if thr_rows:
            thr_df = self.spark.createDataFrame(
                thr_rows, "table string, part int, _thr long"
            )
            events = events.join(F.broadcast(thr_df), ["table", "part"], "left")
            thr = F.coalesce(F.col("_thr"), F.lit(-1))
        return part_stats(events, ["table", "part"], F.col("commit_ts") <= thr, sv_viol)

    def _known(self) -> set:
        # a multi-capture deployment (TableScheduler) streams EVERY table's
        # events through every capture; only tables this feed knows — its
        # own, plus lifecycle/rename handles — may influence its span maps
        # and release frontier (folding an unassigned table's positions in
        # would advance the frontier past what this capture replicates —
        # and regress it when the maps re-seed from the lake). Unassigned
        # rows still ride the pending tail (written from the UNFILTERED
        # stream), which is exactly what makes a later move-table handoff
        # exact.
        return (
            set(self.tables) | set(self.registries)
            | set(self.create_specs) | set(self.rename_links)
        )

    def _late_at(self, prev_resolved: int) -> str:
        return "their own table's span frontier"

    def _route(self, ready: DataFrame, name: str) -> DataFrame:
        """The table's rows of the released prefix: its add-boundary,
        stop-ts and lifecycle windows applied."""
        sl = ready.filter(F.col("table") == F.lit(name))
        if name in self.boundaries:
            sl = sl.filter(F.col("commit_ts") > F.lit(self.boundaries[name]))
        if name in self.stop_ts:
            sl = sl.filter(F.col("commit_ts") <= F.lit(self.stop_ts[name]))
        wins = self.lifecycle_windows.get(name)
        if wins:
            cond = F.lit(False)
            for wlo, whi in wins:
                c = F.lit(True)
                if wlo is not None:
                    c = F.col("commit_ts") > F.lit(wlo)
                if whi is not None:
                    c = c & (F.col("commit_ts") <= F.lit(whi))
                cond = cond | c
            sl = sl.filter(cond)
        return sl

    def _mq_partition(self, table: LakeTable):
        # the dispatcher rule set (§2.10 switcher — per-table glob
        # matchers, first match wins); default index-value keeps per-key
        # ordering
        from .dispatch import compile_dispatch_rules, index_value_partition

        if self.mq_dispatch_rules:
            return compile_dispatch_rules(
                self.mq_dispatch_rules, self.mq_partitions, key_col=table.key_col
            )
        return index_value_partition(self.mq_partitions, key_col=table.key_col)

    def _summary(self, b: Batch) -> dict:
        retired = {n: sorted(s.retired_new) for n, s in b.spans.items() if s.retired_new}
        return {
            "batch_id": b.id,
            "resolved_ts": b.resolved,
            "tables": {
                name: any(st.get("committed", False) for _, st in b.applied[name])
                for name in self.tables
            },
            # per-table span positions (`cdc cli processor query` analog,
            # cmd/client_processor.go: each table's resolved = min over ITS
            # OWN spans; None = no span info yet)
            "tables_resolved": {
                name: s.resolved(None) for name, s in b.spans.items() if name in self.tables
            },
            "events": sum(int(r["cnt"]) for r in b.stats),
            **(
                {"span_changes": b.n_topo, "spans_retired": retired}
                if b.n_topo
                else {}
            ),
        }

def consistent_read(tables: dict[str, LakeTable], primary_ts: int) -> dict[str, DataFrame]:
    """Cross-table snapshot-isolation read at ONE upstream consistency
    point (the syncpoint use case, cdc/sink/mysql.go:1364-1426): every
    table resolves primary_ts to the snapshot version its syncpoints map
    to, so the returned DataFrames all reflect upstream state as of the
    SAME resolved-ts — the multi-table feed records each batch's shared
    frontier into every table's syncpoint log, which is what makes this
    well-defined across tables."""
    out: dict[str, DataFrame] = {}
    for name, t in tables.items():
        v = t.version_at_ts(primary_ts)
        if v is None:
            raise ValueError(
                f"table {name!r} has no syncpoint at or below ts={primary_ts} "
                "(not yet replicated to that point, or snapshots expired)"
            )
        out[name] = t.read_version(v)
    return out
