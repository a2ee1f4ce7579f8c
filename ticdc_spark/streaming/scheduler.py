"""Owner-side table scheduling across captures — move-table + rebalance.

Reference semantics (re-expressed, not ported):

  * the owner assigns every replicated table to exactly one capture and can
    MOVE a table between captures with a two-phase job — remove from the
    source at a boundary ts, then add to the target at that same boundary —
    never dispatching the add before the remove's checkpoint is durable
    (cdc/changefeed.go:505-590 handleMoveTableJobs, MoveTableStatusNone →
    Deleted → Finished; boundary = the changefeed's global resolved ts,
    changefeed.go:546-552).
  * rebalance picks overflow tables from captures holding more than
    ceil(total/captures) and redistributes them to idle captures
    (pkg/scheduler/table_number.go:46-84 CalRebalanceOperates); workload
    skew is measured as std/mean of per-capture workload sums
    (pkg/scheduler/workload.go:70-93).
  * orphan tables (not yet assigned) are spread to the least-loaded capture
    (table_number.go:85-103 DistributeTables via SelectIdleCapture).

Spark mapping: a "capture" is a MultiTableChangeFeed with its own streaming
checkpoint over the SAME binlog directory (each capture drains every file
and routes only its assigned tables; unassigned rows are dropped by the
table dispatcher, and the above-frontier data tail — ALL tables' — persists
in each capture's pending/ dir). That tail is what makes the handoff exact:

    boundary = source capture's resolved frontier at the move
      * every moved-table event with commit_ts <= boundary was already
        committed by the source (its released prefix);
      * every event ABOVE the boundary from already-consumed files sits in
        the TARGET's own pending tail (the tail is written unfiltered,
        feed.FeedBase._write_tail), and future files arrive normally;
      * the target's add-boundary filter (commit_ts > boundary) excludes
        any overlap, so each event applies exactly once — the lake table's
        epoch commits are feed-scoped, so source and target commits never
        collide.

Precondition enforced here: the target's resolved frontier must not be
AHEAD of the source's (it would have already released-and-dropped moved-
table events above the boundary). Captures driven in lockstep by tick()
always satisfy this (same files → same deterministic frontier fold).

Schema note: in typed mode a capture's stream schema is the union of its
OWN tables' payload columns, so a moved table's payload must be covered by
the target's union (homogeneous token tables — the engine's north-rule
shape — always are). raw mode (JSON payload) is schema-free and safe for
heterogeneous moves; validated below.

Crash safety: the job log is a JSON state file written tmp+os.replace (the
same atomic-commit discipline as the lake manifests). Jobs survive a
scheduler restart; re-applying a finished job is idempotent (remove_table /
add_table set plain dict entries).
"""

from __future__ import annotations

import json
import math
import os
import threading

from ..lake.table import LakeTable

ST_NONE = "none"
ST_DELETED = "deleted"  # MoveTableStatusDeleted
ST_FINISHED = "finished"  # MoveTableStatusFinished


def skewness(workloads: dict[str, dict[str, float]]) -> float:
    """std/mean of per-capture workload sums (workload.go:70-93); 0.0 for a
    perfectly even assignment, 0 captures → 0."""
    if not workloads:
        return 0.0
    sums = [float(sum(w.values())) for w in workloads.values()]
    mean = sum(sums) / len(sums)
    if mean == 0:
        return 0.0
    var = sum((s - mean) ** 2 for s in sums) / len(sums)
    return math.sqrt(var) / mean


def distribute_tables(
    workloads: dict[str, dict[str, float]], orphans: list[str]
) -> dict[str, list[str]]:
    """Assign each orphan table to the least-loaded capture, updating the
    load as we go (DistributeTables / SelectIdleCapture,
    table_number.go:85-103). Deterministic: ties break on capture id (the
    reference iterates a Go map — nondeterministic there; a replayable
    plan needs a total order)."""
    if not workloads:
        raise ValueError("no captures to distribute to")
    load = {cid: float(sum(w.values())) for cid, w in workloads.items()}
    out: dict[str, list[str]] = {cid: [] for cid in workloads}
    for t in sorted(orphans):
        cid = min(sorted(load), key=lambda c: load[c])
        out[cid].append(t)
        load[cid] += 1.0
    return {cid: ts for cid, ts in out.items() if ts}


def rebalance_plan(
    workloads: dict[str, dict[str, float]],
) -> list[tuple[str, str, str]]:
    """(table, from, to) moves that bring every capture under
    ceil-ish limit = total/num + 1 (CalRebalanceOperates,
    table_number.go:46-84): victims are drained from over-limit captures,
    then redistributed like orphans; moves that land where they started are
    dropped. Deterministic victim choice: smallest table id first."""
    if not workloads:
        return []
    total = sum(len(w) for w in workloads.values())
    limit = total / len(workloads) + 1
    pool = {cid: dict(w) for cid, w in workloads.items()}
    victims: list[tuple[str, str]] = []  # (table, from)
    for cid in sorted(pool):
        w = pool[cid]
        while len(w) >= limit:
            t = sorted(w)[0]
            del w[t]
            victims.append((t, cid))
    placed = distribute_tables(pool, [t for t, _ in victims])
    src_of = dict(victims)
    moves = []
    for cid, ts in placed.items():
        for t in ts:
            if src_of[t] != cid:
                moves.append((t, src_of[t], cid))
    return sorted(moves)


def _locked(fn):
    """Serialize owner mutations on self.lock (ownerLock analog)."""
    import functools

    @functools.wraps(fn)
    def wrap(self, *a, **k):
        with self.lock:
            return fn(self, *a, **k)

    return wrap


class TableScheduler:
    """Drives a set of capture feeds in lockstep and executes two-phase
    move-table jobs between their batches.

    captures: {capture_id: MultiTableChangeFeed} — all over the same binlog
    dir.  state_path: the atomic job log."""

    def __init__(self, captures: dict, state_path: str):
        if not captures:
            raise ValueError("need at least one capture")
        if len({os.path.abspath(c.binlog_dir) for c in captures.values()}) > 1:
            raise ValueError("captures must share one binlog dir")
        self.captures = dict(captures)
        self.state_path = state_path
        # owner mutations serialize on this lock (cdc/http_handler.go's
        # s.ownerLock analog): the embedded HTTP admin thread calls
        # move_table/rebalance concurrently with the driver's tick()
        # loop; RLock because rebalance() enqueues via move_table()
        self.lock = threading.RLock()
        self.jobs: list[dict] = []
        if os.path.exists(state_path):
            with open(state_path) as f:
                self.jobs = json.load(f)["jobs"]
        # re-apply surviving effects of every persisted job (idempotent):
        # a restarted scheduler gets freshly-constructed captures that no
        # longer carry past moves in their config
        for job in self.jobs:
            if job.get("kind") == "adopt":
                dst = self.captures.get(job["to"])
                if dst is None:
                    continue  # the adopter died too — a later adopt covers it
                if job["status"] == ST_DELETED:
                    # crashed mid-adoption: catch-up epoch + clamp + add are
                    # all idempotent — just finish the job
                    self._finish_adopt(job, dst)
                elif (
                    job["status"] == ST_FINISHED
                    and job["table"] not in dst.tables
                ):
                    dst.add_table(
                        job["table"],
                        LakeTable(dst.spark, job["root"]),
                        boundary_ts=job["boundary"],
                    )
                continue
            if job["status"] in (ST_DELETED, ST_FINISHED):
                src = self.captures.get(job["from"])
                if src is not None and job["table"] in src.tables:
                    src.remove_table(job["table"], job["boundary"])
            if job["status"] == ST_FINISHED:
                dst = self.captures.get(job["to"])
                if dst is not None:
                    if job["table"] not in dst.tables:
                        dst.add_table(
                            job["table"],
                            LakeTable(dst.spark, job["root"]),
                            boundary_ts=job["boundary"],
                        )
                    else:
                        # ping-pong history (A→B then B→A): this job's
                        # replay runs AFTER the earlier job stopped the
                        # table on A — re-assert liveness on the final
                        # owner or the table stays silently stopped and
                        # drops everything above the stale stop forever
                        dst.stop_ts.pop(job["table"], None)
                        dst.boundaries[job["table"]] = job["boundary"]
        # persist the (possibly re-applied) assignment immediately so the
        # capture/processor CLI sees a registered capture before its first
        # tick — the reference registers captures in etcd at startup, not
        # at first checkpoint (cdc/capture.go Register)
        self._save()

    # -- introspection -----------------------------------------------------
    def workloads(self) -> dict[str, dict[str, float]]:
        """Live assignment as unit workloads (TaskWorkload analog): a
        stopped (moved-away) table no longer counts against its capture."""
        out: dict[str, dict[str, float]] = {}
        for cid, cf in self.captures.items():
            out[cid] = {
                t: 1.0 for t in cf.tables if t not in cf.stop_ts
            }
        return out

    def skewness(self) -> float:
        return skewness(self.workloads())

    # -- the two-phase move job (handleMoveTableJobs analog) ---------------
    @_locked
    def move_table(self, table: str, src_id: str, dst_id: str) -> dict:
        """Enqueue a move job (status=none). Executed by the next tick()
        between batches — mirroring the owner, which only flips job states
        when no operation is still unapplied (changefeed.go:512-516)."""
        src, dst = self.captures[src_id], self.captures[dst_id]
        if table not in src.tables or table in src.stop_ts:
            raise ValueError(f"{table!r} is not live on capture {src_id!r}")
        if getattr(src, "dynamic_spans", False) != getattr(
            dst, "dynamic_spans", False
        ):
            # dynamic→dynamic is safe since r4: the source skips a stopped
            # table's post-stop topology (multi._process topo filter), so it
            # never commits to a manifest the target owns — the race that
            # used to forbid this entirely. A MIXED pair stays invalid: a
            # static target would fail loudly on the first S/M row, and a
            # static source can't have produced a span map the dynamic
            # target expects to extend.
            raise ValueError(
                "move_table needs matching span modes on both captures "
                "(dynamic_spans must be equal); a mixed pair cannot hand "
                "off a split/merge span universe"
            )
        if table in dst.tables:
            raise ValueError(f"{table!r} already on capture {dst_id!r}")
        if src.mode == "typed" and dst.tables:
            # the target's typed stream schema must already cover the moved
            # table's payload columns (see module docstring); raw mode needs
            # no check, nor does an EMPTY target capture (its union schema
            # will simply BE the moved table's schema after the add)
            from ..lake.table import _parse_type_normalized

            src_cols = {
                (f["name"], _parse_type_normalized(f["type"]))
                for ver in src.registries[table].versions
                for f in ver
            }
            dst_cols = {
                (f.name, f.dataType.simpleString())
                for f in dst._stream_schema().fields
            }
            missing = {
                (n, t) for n, t in src_cols if (n, t) not in dst_cols
            }
            if missing:
                raise ValueError(
                    f"typed-mode move of {table!r} needs payload columns "
                    f"{sorted(missing)} in the target capture's stream "
                    "schema; use mode='raw' for heterogeneous moves"
                )
        job = {
            "table": table,
            "from": src_id,
            "to": dst_id,
            "status": ST_NONE,
            "boundary": None,
            "root": src.tables[table].root,
        }
        self.jobs.append(job)
        self._save()
        return job

    @_locked
    def rebalance(self) -> list[dict]:
        """Enqueue the moves of the deterministic rebalance plan
        (CalRebalanceOperates analog)."""
        return [
            self.move_table(t, s, d)
            for t, s, d in rebalance_plan(self.workloads())
        ]

    # -- capture failure (balanceOrphanTables analog) ------------------------
    @_locked
    def adopt_orphans(self, dead_id: str) -> list[dict]:
        """A capture died: drop it and redistribute its live tables to the
        least-loaded surviving captures (balanceOrphanTables,
        cdc/changefeed.go:306-400, via DistributeTables). Each orphan
        re-enters at its own DURABLE frontier (min over the table's
        persisted span positions — everything at or below it is committed);
        the gap up to the target's stream position is served by a one-shot
        CATCH-UP SCAN of the binlog directory — the reference's target
        puller opening a fresh TiKV scan at StartTs = checkpoint, which our
        file source cannot do through the stream (consumed files are never
        re-read) but a batch read does exactly. The catch-up epoch id is a
        pure function of (table, range), so a crash mid-adoption replays to
        the same state; the table then joins the target at the target's
        frontier.

        Typed-mode only: a raw-mode catch-up would need the mounter's
        per-version decode on the batch path. Tables with a DDL barrier
        inside the catch-up range are refused (the barrier's epoch split
        belongs to the stream, not a flat scan)."""
        dead = self.captures.pop(dead_id)
        orphans = sorted(t for t in dead.tables if t not in dead.stop_ts)
        if not self.captures:
            self.captures[dead_id] = dead
            raise ValueError("no surviving captures to adopt into")
        if dead.mode != "typed":
            self.captures[dead_id] = dead
            raise ValueError("adopt_orphans supports typed-mode feeds only")
        placed = distribute_tables(self.workloads(), orphans)
        # the dead capture's last RELEASE frontier — min over parts of max
        # over its live tables' durable span positions (the same union fold
        # its batches computed). It committed slices up to this ts, so the
        # catch-up must cover at least that far or the intermediate state
        # sits above the declared boundary (the reference clamps orphan
        # StartTs to the changefeed checkpoint the same way,
        # changefeed.go:569-571).
        u: dict[int, int] = {}
        for name, t in dead.tables.items():
            if name in dead.stop_ts:
                continue
            for p, v in t.part_watermarks.items():
                u[int(p)] = max(u.get(int(p), -1), int(v))
        dead_frontier = min(u.values()) if u else -1
        # pass 1 — PLAN AND VALIDATE every orphan before mutating anything:
        # a mid-loop refusal after some adopts committed would leave the
        # remaining orphans tracked nowhere (capture popped, no job record)
        planned = []
        topo_ts: dict[str, list[int]] = {}
        if getattr(dead, "dynamic_spans", False) and orphans:
            # span mode must survive the adoption: a static target would
            # fail loudly only when the NEXT topology row arrives — refuse
            # up front instead
            for dst_id in sorted(placed):
                if placed[dst_id] and not getattr(
                    self.captures[dst_id], "dynamic_spans", False
                ):
                    self.captures[dead_id] = dead
                    raise ValueError(
                        f"capture {dst_id!r} is static-span; adopting a "
                        "dynamic-span table needs dynamic_spans=True"
                    )
            # topology rows in an orphan's catch-up range are unrecoverable:
            # the dead capture never applied them (they're above its
            # durable frontier) and the target's stream already released
            # past them for a then-unassigned table — the flat catch-up
            # scan applies data only. One column-pruned scan finds them.
            from pyspark.sql import functions as F

            any_dst = self.captures[sorted(placed)[0]]
            rows = (
                any_dst.spark.read.schema(any_dst._stream_schema())
                .parquet(any_dst.binlog_dir)
                .filter(F.col("op").isin(["S", "M"]) & F.col("table").isin(orphans))
                .select("table", "commit_ts")
                .collect()
            )
            for r in rows:
                topo_ts.setdefault(r["table"], []).append(int(r["commit_ts"]))
        for dst_id, tables in sorted(placed.items()):
            dst = self.captures[dst_id]
            for t in tables:
                root = dead.tables[t].root
                lake = LakeTable(dst.spark, root)
                wm = {int(k): int(v) for k, v in lake.part_watermarks.items()}
                boundary = min(wm.values()) if wm else -1
                target_res = self._resolved(dst)
                catchup_to = max(
                    boundary,
                    dead_frontier,
                    int(target_res) if target_res is not None else -1,
                )
                reg = dead.registries.get(t)
                if reg is not None and any(
                    boundary < ts <= catchup_to for ts in reg.ddl_ts
                ):
                    self.captures[dead_id] = dead  # undo the pop — no
                    # mutation has happened yet
                    raise ValueError(
                        f"table {t!r} has a DDL barrier inside the catch-up "
                        f"range ({boundary}, {catchup_to}] — replay it "
                        "through a feed instead"
                    )
                if any(boundary < ts <= catchup_to for ts in topo_ts.get(t, [])):
                    self.captures[dead_id] = dead
                    raise ValueError(
                        f"table {t!r} has a span split/merge inside the "
                        f"catch-up range ({boundary}, {catchup_to}] — the "
                        "flat scan cannot rebuild the span universe; "
                        "replay it through a feed instead"
                    )
                planned.append((dst_id, t, root, boundary, catchup_to))
        # pass 2 — execute (each job persisted before its catch-up, so a
        # crash resumes through __init__/tick's ST_DELETED adopt path)
        jobs = []
        for dst_id, t, root, boundary, catchup_to in planned:
            dst = self.captures[dst_id]
            job = {
                "kind": "adopt",
                "table": t,
                "from": dead_id,
                "to": dst_id,
                "boundary": int(boundary),
                "catchup_to": int(catchup_to),
                "root": root,
                "status": ST_DELETED,  # source is gone by definition
            }
            self.jobs.append(job)
            self._save()
            self._finish_adopt(job, dst)
            jobs.append(job)
        return jobs

    def _finish_adopt(self, job: dict, dst) -> None:
        from ..engine.replay import replay_epoch
        from pyspark.sql import functions as F

        lake = LakeTable(dst.spark, job["root"])
        boundary, upto = job["boundary"], job["catchup_to"]
        # register FIRST: the catch-up read and the future stream both need
        # the adopted table's columns in the target's union stream schema
        # (add_table seeds the registry; in-memory only, so a crash simply
        # re-runs this job from the persisted ST_DELETED state)
        dst.add_table(job["table"], lake, boundary_ts=boundary)
        if upto > boundary:
            # only ARRIVED events exist on disk; events in (boundary, upto]
            # still upstream arrive later through the target's stream —
            # which is why the table rejoins at `boundary` (not `upto`) and
            # its span map stays exactly as the dead capture left it: the
            # per-part positions are that pipeline's true seen-maxima, and
            # the per-span late rule (threshold = min(span max, released))
            # already admits both the catch-up overlap re-delivered from
            # the target's pending tail (LWW re-merge is absorbing) and
            # future arrivals above each span's max.
            ev = (
                dst.spark.read.schema(dst._stream_schema())
                .parquet(dst.binlog_dir)
                .filter(
                    (F.col("table") == F.lit(job["table"]))
                    & F.col("op").isin(["I", "U", "D"])
                    & (F.col("commit_ts") > F.lit(boundary))
                    & (F.col("commit_ts") <= F.lit(upto))
                )
            )
            replay_epoch(
                lake, ev, f"adopt-{job['table']}-{boundary}-{upto}"
            )
        job["status"] = ST_FINISHED
        self._save()

    # -- lockstep driver ----------------------------------------------------
    @_locked
    def tick(self) -> dict[str, list[dict]]:
        """One scheduling round: drain every capture's available binlog,
        then advance move jobs. Phase 1 (none→deleted) stops the table on
        the source at boundary = the source's resolved frontier, persisted
        BEFORE phase 2 — a crash between phases resumes with the stop
        already in force (the reference guards the add on the flushed
        checkpoint, changefeed.go:558-565). Phase 2 (deleted→finished) adds
        the table to the target at the same boundary."""
        # resume leftover phase-2s BEFORE draining: a job crashed between
        # phases has its boundary persisted, and files that arrived during
        # the outage must meet the target with the table ALREADY assigned —
        # draining first would release (and drop) the moved table's rows
        # and topology while it is still nobody's business. The normal
        # same-tick two-phase flow is unaffected (those jobs are ST_NONE
        # here and execute after the drain at aligned frontiers).
        for job in self.jobs:
            if job["status"] == ST_DELETED and job["to"] in self.captures:
                dst = self.captures[job["to"]]
                if job.get("kind") == "adopt":
                    self._finish_adopt(job, dst)
                else:
                    if job["table"] not in dst.tables:
                        dst.add_table(
                            job["table"],
                            LakeTable(dst.spark, job["root"]),
                            boundary_ts=job["boundary"],
                        )
                    else:
                        dst.stop_ts.pop(job["table"], None)
                        dst.boundaries[job["table"]] = job["boundary"]
                    job["status"] = ST_FINISHED
                    self._save()
        summaries = {
            cid: cf.run_available() for cid, cf in sorted(self.captures.items())
        }
        for job in self.jobs:
            if job["status"] in (ST_NONE, ST_DELETED) and (
                job["from"] not in self.captures
                or job["to"] not in self.captures
            ):
                if job.get("kind") == "adopt" and job["to"] in self.captures:
                    pass  # adopt's source is gone by definition
                else:
                    # a participating capture was removed (e.g. by
                    # adopt_orphans) — the reference DROPS jobs whose
                    # capture disappeared (handleMoveTableJobs); wedging
                    # every future tick on a KeyError would strand the rest
                    job["status"] = ST_FINISHED
                    job["note"] = "capture gone; job dropped"
                    self._save()
                    continue
            if job["status"] == ST_NONE:
                src = self.captures[job["from"]]
                dst = self.captures[job["to"]]
                s_res = self._resolved(src)
                d_res = self._resolved(dst)
                if s_res is None or s_res < 0:
                    continue  # source never ran — nothing to hand off yet
                if d_res is not None and d_res > s_res:
                    # a file landed between the two sequential run_available
                    # calls: the target consumed one more file than the
                    # source. Not divergence — the source reads the same
                    # file next tick. Defer the job until frontiers align.
                    continue
                job["boundary"] = int(s_res)
                src.remove_table(job["table"], job["boundary"])
                # hand the span map over clean: positions above the boundary
                # were the source pipeline's observations — the target's
                # puller starts at StartTs = boundary (changefeed.go:546-552)
                # and must rebuild its own view above it. Idempotent epoch id
                # → a crash between phases replays to the same state.
                t = src.tables.get(job["table"]) or LakeTable(
                    src.spark, job["root"]
                )
                t.clamp_watermarks(
                    job["boundary"],
                    f"move-{job['table']}-{job['from']}-{job['to']}-clamp",
                )
                job["status"] = ST_DELETED
                self._save()
            if job["status"] == ST_DELETED:
                dst = self.captures[job["to"]]
                if job.get("kind") == "adopt":
                    # a crashed adoption resumes through the SAME path as
                    # __init__: catch-up replay + add (all idempotent).
                    # Driving it as a plain add would skip the catch-up and
                    # silently lose the (boundary, catchup_to] range.
                    self._finish_adopt(job, dst)
                else:
                    dst.add_table(
                        job["table"],
                        LakeTable(dst.spark, job["root"]),
                        boundary_ts=job["boundary"],
                    )
                    job["status"] = ST_FINISHED
                    self._save()
        return summaries

    @staticmethod
    def _resolved(cf) -> int | None:
        if cf.batch_summaries:
            return int(cf.batch_summaries[-1]["resolved_ts"])
        # restart: the durable frontier lives in the tables' span maps —
        # min over the capture's live tables' own positions
        vals = []
        for name, t in cf.tables.items():
            if name in cf.stop_ts:
                continue
            # NOTE: -1 entries (never-reported span seeds) stay in the min
            # — they correctly hold the frontier at "not ready"; tick()
            # skips jobs while the resolved value is negative
            m = {int(k): int(v) for k, v in t.part_watermarks.items()}
            if m:
                vals.append(min(m.values()))
        return min(vals) if vals else None

    def _assignment_snapshot(self) -> dict:
        """The capture → table assignment as plain data (the etcd
        /captures + /task/status keyspace analog, cdc/kv/etcd.go): enough
        for `capture list` / `processor list|query` CLI reads WITHOUT a
        Spark session — per-table positions are read from the lake tables'
        own JSON manifests at query time, never duplicated here."""
        snap: dict[str, dict] = {}
        for cid, cf in self.captures.items():
            snap[cid] = {
                t: {
                    "root": tbl.root,
                    "stopped": t in cf.stop_ts,
                    "stop_ts": cf.stop_ts.get(t),
                }
                for t, tbl in cf.tables.items()
            }
        return snap

    def _save(self) -> None:
        tmp = self.state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {"jobs": self.jobs, "captures": self._assignment_snapshot()},
                f,
                indent=1,
            )
        os.replace(tmp, self.state_path)


# -- Spark-free CLI reads (cdc cli capture/processor analogs) --------------
#
# The reference's `cdc cli capture list`, `processor list` and `processor
# query` read the etcd keyspace (cmd/client_capture.go:34-57,
# cmd/client_processor.go:21-99); our keyspace is the scheduler state file
# plus each lake table's own JSON manifest — all plain files, so these
# helpers (and the changefeed_ctl subcommands over them) need no Spark
# session at all.


def _load_state(state_path: str) -> dict:
    with open(state_path) as f:
        return json.load(f)


def _table_position(root: str) -> dict:
    """One table's replication position straight from its manifest files:
    checkpoint_ts = min over span watermarks (the processor's CheckPointTs
    fold, cdc/processor.go TaskPosition), plus span count and the last
    committed epoch — O(1) file reads, no Spark."""
    mdir = os.path.join(root, "_manifests")
    try:
        with open(os.path.join(mdir, "CURRENT")) as f:
            v = int(f.read().strip())
        with open(os.path.join(mdir, f"v{v:08d}.json")) as f:
            m = json.load(f)
    except OSError:
        return {"reachable": False}
    wm = {k: int(x) for k, x in m.get("part_watermarks", {}).items()}
    return {
        "reachable": True,
        "manifest_version": v,
        "checkpoint_ts": min(wm.values()) if wm else None,
        "n_spans": len(wm),
        "schema_version": m.get("schema_version"),
        "epochs_committed": len(m.get("committed_epochs", [])),
    }


def capture_list(state_path: str) -> list[dict]:
    """`cdc cli capture list` analog: one row per capture with its live /
    stopped table counts (is-owner has no analog — the scheduler itself is
    the single owner, documented n/a)."""
    snap = _load_state(state_path).get("captures", {})
    return [
        {
            "id": cid,
            "n_tables": sum(1 for t in tbls.values() if not t["stopped"]),
            "n_stopped": sum(1 for t in tbls.values() if t["stopped"]),
        }
        for cid, tbls in sorted(snap.items())
    ]


def processor_list(state_path: str) -> list[dict]:
    """`cdc cli processor list` analog: every (capture, table) assignment."""
    snap = _load_state(state_path).get("captures", {})
    return [
        {"capture": cid, "table": t, "stopped": info["stopped"]}
        for cid, tbls in sorted(snap.items())
        for t, info in sorted(tbls.items())
    ]


def processor_query(
    state_path: str, capture_id: str, table: str | None = None
) -> dict:
    """`cdc cli processor query` analog: the capture's per-table positions
    (checkpoint ts, span count, schema version, committed epochs) read from
    each table's own manifest."""
    snap = _load_state(state_path).get("captures", {})
    if capture_id not in snap:
        raise KeyError(
            f"capture {capture_id!r} not in state file "
            f"(have: {sorted(snap)})"
        )
    tbls = snap[capture_id]
    names = [table] if table else sorted(tbls)
    if table and table not in tbls:
        raise KeyError(f"table {table!r} not assigned to {capture_id!r}")
    out: dict[str, dict] = {}
    for t in names:
        info = tbls[t]
        pos = _table_position(info["root"])
        pos.update(stopped=info["stopped"], stop_ts=info["stop_ts"], root=info["root"])
        out[t] = pos
    return {"capture": capture_id, "tables": out}
