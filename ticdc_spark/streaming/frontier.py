"""Span frontier control plane — the per-batch consistency rules every
changefeed shares, as pure Python over part_stats rows (dicts or Spark
Rows) and manifest maps. No Spark here: ChangeFeed and
MultiTableChangeFeed feed it the rows of their one aggregation job and act
on what it returns.

The rules (SURVEY.md §2.5, cdc/puller/frontier):

  * a span's watermark is the monotone max of the positions it reported; a
    table's resolved-ts is the min over its spans (frontier.Frontier(),
    kafka_consumer/main.go:531-544), and the frontier starts with the full
    declared span universe, so an unseen span pins it at -1
  * span topology (op S split / op M merge, model.TOPOLOGY_OPS — the
    kv-client region-change contract): split children resubscribe at the
    parent's checkpoint, a merge seeds at the min of its parents, each
    retiring span keeps its own final position, a retired span id is never
    reused, and data above a retired span's final checkpoint is fatal
  * DDL barriers slice the released prefix (cdc/changefeed.go:899-910); a
    data-wiping DDL also waits for its table's own frontier
  * each batch's pre-state is recorded write-once, so a crash replay of the
    batch recomputes it exactly
"""

from __future__ import annotations

import json
import os

# barrier-ordered DATA operations (schema_storage.go:586-624): wrong if they
# run before their table's pre-barrier events have all arrived
WIPES = ("truncate_table", "drop_partition", "truncate_partition")

_SPLIT = "S"  # model.OP_SPLIT (model imports pyspark; this module must not)


def _ids(spec) -> list[int]:
    return [int(x) for x in str(spec).split(",")]


class SpanMap:
    """One table's span positions through one batch.

    positions / retired: the persisted maps (part → watermark, part →
    retirement checkpoint; keys may be str). n_parts: the declared span
    universe — every part below it that never retired is seeded at -1.
    cap: a stopped table's stop-ts; positions never exceed it, so this
    capture never persists observations that belong to the capture the
    table moved to (changefeed.go:546-552)."""

    def __init__(self, positions, retired, n_parts=None, cap=None, table=None):
        self.cap = cap
        self.label = "" if table is None else f" of table {table!r}"
        self.retired = {int(k): int(v) for k, v in retired.items()}
        self.retired_new: dict[int, int] = {}  # retired by THIS batch
        self.pos = {int(k): self._capped(v) for k, v in positions.items()}
        for p in range(n_parts or 0):
            if p not in self.retired:
                self.pos.setdefault(p, -1)

    def _capped(self, v) -> int:
        return int(v) if self.cap is None else min(int(v), int(self.cap))

    def resolved(self, empty=-1):
        return min(self.pos.values()) if self.pos else empty

    def fold(self, stats, topo) -> None:
        """Advance by this batch's part_stats rows (part, max_ts,
        data_max_ts) and apply its topology rows ((commit_ts, seq)-ordered
        among themselves; they take effect at the end of the batch).
        Topology rows carry no stream position: positions always derive
        from checkpoint state, so a merge cannot push its child past a
        still-lagging parent."""
        # spans retiring in THIS batch: their data rows are legal (the
        # stream ends at the topology event) — also exactly what a crash
        # replay of the topology batch re-delivers
        retiring: set[int] = set()
        for r in topo:
            retiring.update([int(r["part"])] if r["op"] == _SPLIT else _ids(r["doc_id"]))
        # data on a retired span is legal UP TO its retirement checkpoint
        # (the carried tail re-delivers in-flight pre-split rows); above it
        # the old region's stream had already ended
        bad = sorted(
            int(r["part"])
            for r in stats
            if int(r["part"]) in self.retired
            and int(r["part"]) not in retiring
            and r["data_max_ts"] is not None
            and int(r["data_max_ts"]) > self.retired[int(r["part"])]
        )
        if bad:
            raise RuntimeError(
                f"data events above the retirement checkpoint on retired "
                f"span(s) {bad}{self.label}: the old region's stream ended "
                "at its split/merge (kv/client.go region-change contract)"
            )
        for r in stats:
            p = int(r["part"])
            if r["max_ts"] is None:
                continue  # topology-only part: no position to fold
            if p in self.retired and p not in retiring:
                continue  # stale heartbeat racing a committed retirement
            self.pos[p] = max(self.pos.get(p, -1), self._capped(r["max_ts"]))
        for r in topo:
            if r["op"] == _SPLIT:
                pos = self._retire(int(r["part"]))
                for c in _ids(r["doc_id"]):
                    self._check_fresh(c, "split child")
                    # resubscribe-at-checkpoint: the parent's position is a
                    # floor (max keeps replay idempotent once children moved)
                    self.pos[c] = max(self.pos.get(c, -1), pos)
            else:
                child = int(r["part"])
                self._check_fresh(child, "merge target")
                # the union span resubscribes at the frontier of its
                # constituents = min over their checkpoints
                seed = min((self._retire(p) for p in _ids(r["doc_id"])), default=-1)
                self.pos[child] = max(self.pos.get(child, -1), seed)
        self.retired.update(self.retired_new)

    def _retire(self, p: int) -> int:
        pos = self.pos.pop(p, -1)
        if p in self.retired:
            # replayed topology batch: keep the committed checkpoint (the
            # fold may have re-derived a smaller one from a partial replay)
            pos = max(pos, self.retired[p])
        self.retired_new[p] = pos
        return pos

    def _check_fresh(self, p: int, what: str) -> None:
        if p in self.retired or p in self.retired_new:
            raise RuntimeError(
                f"{what} span {p}{self.label} is retired — span ids are never reused"
            )

    def watermarks(self) -> dict:
        """The map a commit persists: positions, plus a {"retired_at": pos}
        sentinel per span retired this batch (LakeTable._finalize_commit
        drops it from the universe and records its final checkpoint)."""
        wm: dict = {str(p): self._capped(v) for p, v in self.pos.items()}
        for p, pos in self.retired_new.items():
            wm[str(p)] = {"retired_at": int(pos)}
        return wm


def release_frontier(spans: dict, stopped, n_parts: int | None) -> int:
    """The feed's release frontier: min over the union (max per part) of its
    live tables' span maps. With one table that is the table's own
    resolved. The union keeps a multi-table feed monotone and live while
    tables' files interleave unevenly; per-table lag is handled by the
    per-table late check and data-DDL deferral, never by regressing the
    frontier. A STOPPED (moved-away) table contributes nothing: its slice
    is bounded by its stop-ts, and its post-stop spans would wedge this
    capture's frontier. A universe part retired by every live table has
    left the stream and must not re-pin the union at -1."""
    live = [s for name, s in spans.items() if name not in stopped]
    u: dict[int, int] = {}
    for s in live:
        for p, v in s.pos.items():
            u[p] = max(u.get(p, -1), v)
    for p in range(n_parts or 0):
        if not (live and all(p in s.retired for s in live)):
            u.setdefault(p, -1)
    return min(u.values()) if u else -1


def late_reason(strict: bool, old_value: bool, data_ddl: bool) -> str | None:
    """Why late events are fatal for this feed (None: they are tolerated —
    the conditional merge makes them harmless to table state). Old-value
    reconstruction is sequence-sensitive, and a barrier-ordered data DDL
    must not be ordered before events that have not arrived yet."""
    if old_value:
        return ", required by enable-old-value"
    if data_ddl:
        return (
            ", required by barrier-ordered data DDL — pass n_parts so the "
            "frontier covers the span universe"
        )
    return "" if strict else None


def check_contracts(stats, dynamic_spans: bool, late_at: str, late_fatal) -> int:
    """Producer-contract checks on a batch's part_stats rows; returns the
    number of topology events. late_fatal: late_reason(...)."""
    n_sv = sum(int(r["sv_viol"]) for r in stats)
    if n_sv:
        raise RuntimeError(
            f"schema_version contract violated: {n_sv} events stamped with a "
            "version above version_at(commit_ts) — the mounter's version "
            "hint would silently drop them (mounter.go:242-247)"
        )
    n_topo = sum(int(r["topo"]) for r in stats)
    if n_topo and not dynamic_spans:
        raise RuntimeError(
            f"{n_topo} span-topology events (op S/M) in a feed created "
            "without dynamic_spans=True — a static span universe cannot "
            "split/merge (kv/client.go region-change contract)"
        )
    n_late = sum(int(r["late"]) for r in stats)
    if n_late and late_fatal is not None:
        raise RuntimeError(
            f"late-event contract violated: {n_late} events at or below "
            f"{late_at} (puller.go:163-168{late_fatal})"
        )
    return n_topo


def barriers(reg, resolved: int, table_resolved: int) -> list[tuple[int, int]]:
    """(version, ts) of every DDL barrier of `reg` the batch releases: ALL
    configured DDL ts ≤ resolved, independent of execution state, so slice
    indexing (hence epoch ids) is stable across mid-batch crash replays —
    a replay after a DDL's schema commit must re-slice identically, or a
    post-DDL range lands in an already-committed epoch id and is lost.

    A data-wiping DDL additionally waits until its table's own frontier
    (table_resolved) passes it — the reference's DDL barrier waits for the
    table sorter; once applied, anything at or below it is late-fatal —
    and every barrier after a deferred one defers too."""
    out = []
    for i, ts in enumerate(reg.ddl_ts):
        if ts > resolved or (reg.ddl_kinds[i] in WIPES and ts > table_resolved):
            break
        out.append((i + 1, ts))
    return out


def slices(bars, lo_evt: int | None, resolved: int) -> list[tuple]:
    """The barrier-split slices of a released prefix: (lo exclusive, hi
    inclusive, version of the DDL at hi, nonempty). DML with commit_ts ≤ a
    DDL's ts applies on the pre-DDL schema (mounter.go:242-247). lo_evt
    (the batch's min event ts, identical on replay) marks slices that
    provably hold no event — barriers executed by earlier batches — so
    they commit no epoch: per-batch slice work stays new-DDLs + 1."""
    out, lo = [], None
    for ver, hi in [*bars, (None, None)]:
        empty = (
            lo_evt is None
            or lo_evt > resolved
            or (hi is not None and hi < lo_evt)
        )
        out.append((lo, hi, ver, not empty))
        lo = hi
    return out


def batch_meta(checkpoint_dir: str, batch_id: int, rec: dict) -> dict:
    """The batch's replay record: written write-once (atomic rename) BEFORE
    any merge; a crash replay of the same batch id gets the recorded dict
    back instead of the already-advanced live state — which would count the
    whole batch late and hand old-value emission the post-batch snapshot.
    Older records are pruned: Structured Streaming commits strictly in
    order, so only the current batch can ever replay."""
    mdir = os.path.join(checkpoint_dir, "batchmeta")
    name = f"{batch_id:010d}.json"
    path = os.path.join(mdir, name)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    os.makedirs(mdir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, path)
    for d in os.listdir(mdir):
        if d.endswith(".json") and d != name:
            os.remove(os.path.join(mdir, d))
    return rec
