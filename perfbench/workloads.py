"""The benchmark's workloads. Each drives the engine only through its public
API, generates its inputs from the run's seed with ticdc_spark.testgen,
checks every output against a reference outside the timed region, and
returns a Result: end-to-end figures, per-layer figures (traced runs) and
the attempted/failed operation counts.

perfbench/README.md says why each workload exists and which layers it
exercises or bypasses.
"""

from __future__ import annotations

import glob
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from spans import READER_GROUP, Totals, Tracer, aggregate_jobs
from stats import expected_state, median, percentile, visible_times

from ticdc_spark import testgen
from ticdc_spark.engine.replay import open_binlog, replay_chunks
from ticdc_spark.lake.table import LakeTable
from ticdc_spark.operators.epochs import frontier_and_bounds
from ticdc_spark.oracle import diff_tables
from ticdc_spark.streaming.changefeed import ChangeFeed

N_PARTS = 8

# bulk_catchup
BULK_EVENTS = 100_000
BULK_KEYS = 40_000
BULK_BUCKETS = 16
CHUNKS = 4
FILES_PER_CHUNK = 4
GEN_REPEATS = 3
MIN_DRAINS = 2
NOMINAL_DRAIN_S = 5.0    # sizes the drain count from --seconds
# The JVM's JIT keeps speeding drains up for about four drains after start:
# 11k, 13k, 15k, 17k, then about 18-20k events/s (4 cores). Measured drains
# on that slope would spread with how far each run got up it.
WARM_DRAINS = 3

# trickle_old_value
TRICKLE_KEYS = 15_000
TRICKLE_PRELOAD = 30_000
TRICKLE_BUCKETS = 4
MQ_PARTITIONS = 4
DROP_EVENTS = 50
DROP_RATE = 8.0          # drops per second, open loop
READ_EVERY_S = 2.0       # reader schedule, open loop
READ_KEYS = 3
COMPACT_MAX_DELTAS = 4
TRIGGER_S = 5.0          # the feed's processing-time trigger (its default)
# after the preload, two trigger periods of drops at the window's rate warm
# the JIT up on the small-batch path, whose batch time otherwise still falls
# by a third over the next half minute
WARM_DROPS = int(DROP_RATE * 2 * TRIGGER_S)
# the traced run's sized-framing feed takes one trickle batch's drops a batch
SIZED_FILES_PER_TRIGGER = int(DROP_RATE * TRIGGER_S)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: Tracer


@dataclass
class Result:
    setup_parts: dict = field(default_factory=dict)
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)


class BatchLog:
    """post_batch recorder. Per batch: the callback's wall time, the
    resolved frontier, the batch's events, the feed's own batch and MQ-leg
    seconds, and in traced runs the Spark jobs started since the previous
    batch plus, given the feed's table, the table version the batch started
    from (the snapshot its old-value pre-images are read at)."""

    def __init__(self, tracer: Tracer, table: LakeTable | None = None):
        self.tracer = tracer
        self.table = table if tracer.enabled else None
        self.batches: list[dict] = []
        self._lock = threading.Lock()
        self._mark = tracer.store.mark() if tracer.enabled else None
        self._version = self.table.version if self.table is not None else None

    def __call__(self, summary: dict) -> None:
        rec = {
            "wall": time.time(),
            "resolved": int(summary["resolved_ts"]),
            "events": int(summary["events"]),
            "batch_s": float(sum(summary["timings"].values())),
            "mq_s": float(summary["timings"].get("mq", 0.0)),
        }
        if self.tracer.enabled:
            mark, self._mark = self._mark, self.tracer.store.mark()
            rec.update(aggregate_jobs(self.tracer.store.jobs_after(mark)))
        if self.table is not None:
            rec["pre_version"], self._version = self._version, self.table.version
        with self._lock:
            self.batches.append(rec)

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.batches)

    def frontier(self) -> int:
        with self._lock:
            return self.batches[-1]["resolved"] if self.batches else -1


def _read_dir(path: str) -> pa.Table:
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pa.concat_tables([pq.read_table(f) for f in files])


def _heartbeat(schema_dir: str) -> pa.Table:
    """One resolved-ts control row per part (testgen.write_resolved_events),
    as a table whose commit_ts the caller sets."""
    path = testgen.write_resolved_events(schema_dir, {p: 0 for p in range(N_PARTS)})
    beat = pq.read_table(path)
    shutil.rmtree(schema_dir)
    return beat


def _sealed(events: pa.Table, beat: pa.Table) -> pa.Table:
    """events plus per-part heartbeats at their max commit_ts, so the batch
    that reads them can release all of them."""
    top = pc.max(events.column("commit_ts")).as_py()
    beat = beat.set_column(0, "commit_ts", pa.array([top] * beat.num_rows, pa.int64()))
    return pa.concat_tables([events.cast(beat.schema), beat])


def _gate(tracer: Tracer, table: LakeTable, expected: pa.Table, what: str) -> list[str]:
    """Final-state check against the oracle, traced as lake.read."""
    with tracer.span("lake.read"):
        actual = table.read().toArrow()
    return [f"{what}: {p}" for p in diff_tables(expected, actual)]


def _mq_output(mq_dir: str) -> tuple[int, int]:
    """(data messages, key+value+old bytes) a row-framed feed wrote under
    mq_dir; resolved and DDL meta messages are excluded."""
    msgs = nbytes = 0
    for f in glob.glob(os.path.join(mq_dir, "batch-*", "partition=*", "*.parquet")):
        t = pq.read_table(f)
        msgs += t.num_rows
        for c in ("key_json", "value_json", "old_json"):
            if c in t.column_names:
                nbytes += pc.sum(pc.binary_length(t.column(c))).as_py() or 0
    return msgs, nbytes


def _wrap_table(tracer: Tracer, table: LakeTable) -> None:
    """Span the public LakeTable calls the feed makes on this instance."""
    def rows_out(r: dict) -> dict:
        # MOR appends one delta per touched bucket: the version's row count
        # grows by exactly the winners written
        if not r.get("committed"):
            return {"rows_out": 0}
        v = r["version"]
        return {"rows_out": table.version_rows(v) - table.version_rows(v - 1)}

    tracer.wrap(table, "merge_epoch", "lake.merge", rows_out)
    tracer.wrap(table, "maybe_compact", "lake.compact",
                lambda r: {"compacted": int(r is not None)})


def _replay(ctx: Ctx, groups: list[str], base_table: str | None, n_buckets: int) -> float:
    """Replay the feed's per-batch inputs through the public batch calls,
    outside the feed: the frontier fold of each group (epochs.frontier) and
    replay_chunks over all groups into a fresh table or a copy of
    base_table (replay.chunks). Returns the replay seconds."""
    spark, tr = ctx.spark, ctx.tracer
    for g in groups:
        with tr.span("epochs.frontier"):
            frontier_and_bounds(open_binlog(spark, g))
    root = os.path.join(ctx.work, "replay_table")
    if base_table is None:
        table = LakeTable.create(spark, root, n_buckets=n_buckets)
    else:
        shutil.copytree(base_table, root)
        table = LakeTable(spark, root)
    t0 = time.perf_counter()
    with tr.span("replay.chunks"):
        replay_chunks(table, spark, groups, epoch_prefix="replay")
    return time.perf_counter() - t0


def _layer_metrics(ctx: Ctx, res: Result, batches: list[dict], events: int,
                   feed_s: float, replay_s: float, n_replayed: int) -> None:
    """Per-layer figures from the spans and the per-batch job counts, over
    `events` released change events. The *_s figures of layers inside a
    batch are seconds per batch: spans the feed made and the feed's own MQ
    timing divide by its batches, replayed spans by the batches the replay
    covered. The overhead is batch time minus the feed's own layer calls
    (merge, compaction, MQ leg) and the replayed frontier fold; the replayed
    pre-image read and encode are parts of the MQ leg, so not subtracted
    again."""
    tr, L = ctx.tracer, res.layers
    nb, nr = max(1, len(batches)), max(1, n_replayed)
    events = max(1, events)
    L["lake.merge_s"] = tr.total("lake.merge") / nb
    L["lake.merge_jobs"] = tr.total("lake.merge", "jobs") / nb
    L["lake.merge_tasks"] = tr.total("lake.merge", "tasks") / nb
    L["lake.merge_shuffle_bytes_per_event"] = tr.total("lake.merge", "shuffle_write_bytes") / events
    L["lake.merge_rows_out_per_event"] = tr.total("lake.merge", "rows_out") / events
    compacts = [s for s in tr.spans.get("lake.compact", []) if s["compacted"]]
    L["lake.compact_s"] = sum(s["sec"] for s in compacts) / nb
    L["lake.compact_calls"] = len(compacts)
    L["lake.preimage_read_s"] = tr.total("lake.preimage_read") / nr
    L["lake.read_s"] = tr.total("lake.read") / max(1, tr.count("lake.read"))
    L["epochs.frontier_s"] = tr.total("epochs.frontier") / nr
    L["epochs.frontier_jobs"] = tr.total("epochs.frontier", "jobs") / nr
    L["codec.encode_s"] = tr.total("codec.encode") / nr
    L["changefeed.mq_s"] = sum(b["mq_s"] for b in batches) / nb
    L["changefeed.batches"] = len(batches)
    if batches:
        L["changefeed.batch_s"] = median([b["batch_s"] for b in batches])
        L["changefeed.jobs_per_batch"] = median([b["jobs"] for b in batches])
        L["changefeed.tasks_per_batch"] = median([b["tasks"] for b in batches])
    layer_s = (L["epochs.frontier_s"] + L["lake.merge_s"] + L["lake.compact_s"]
               + L["changefeed.mq_s"])
    mean_batch_s = sum(b["batch_s"] for b in batches) / nb
    L["changefeed.overhead_s_per_batch"] = mean_batch_s - layer_s
    L["changefeed.overhead_share"] = L["changefeed.overhead_s_per_batch"] / max(1e-9, mean_batch_s)
    L["replay.chunks_s"] = replay_s
    L["changefeed.stream_to_replay_ratio"] = feed_s / replay_s


def _spark_totals(res: Result, totals: dict) -> None:
    if totals:
        res.layers["spark.tasks"] = totals["tasks"]
        res.layers["spark.executor_run_s"] = totals["executor_run_ms"] / 1000.0
        res.layers["spark.shuffle_write_bytes"] = totals["shuffle_write_bytes"]


# ------------------------------------------------------------ bulk_catchup

def _write_backlog(spec: testgen.BinlogSpec, out: str, chunks: int) -> tuple[list[str], pa.Table]:
    """The backlog as `chunks` arrival chunks (one feed batch each); the last
    file carries per-part heartbeats at the backlog's top commit_ts, so the
    last batch releases everything. Returns the chunk dirs and all rows."""
    shutil.rmtree(out, ignore_errors=True)
    dirs = testgen.write_binlog_chunks(spec, out, n_chunks=chunks, files_per_chunk=FILES_PER_CHUNK)
    tables = [_read_dir(d) for d in dirs]
    last = sorted(glob.glob(os.path.join(dirs[-1], "*.parquet")))[-1]
    st = os.stat(last)
    sealed = _sealed(pa.concat_tables(tables), _heartbeat(out + "_beat"))
    beat = sealed.slice(sealed.num_rows - N_PARTS)
    pq.write_table(pa.concat_tables([pq.read_table(last).cast(beat.schema), beat]), last)
    # the file stream orders files by mtime: keep the sealed file in place
    os.utime(last, (st.st_atime, st.st_mtime))
    return dirs, sealed


def bulk_catchup(ctx: Ctx) -> Result:
    """Repeated drains of one backlog, each into a fresh table by a fresh
    ChangeFeed.run_available: LWW collapse plus the bucketed MOR write do
    most of the work; MQ, compaction and pre-image reads are off."""
    res = Result()
    spark, tr = ctx.spark, ctx.tracer
    base = os.path.join(ctx.work, "bulk")
    spec = testgen.BinlogSpec(
        n_events=BULK_EVENTS, n_keys=BULK_KEYS, seed=ctx.seed, hot_frac=0.05,
        hot_keys=200, n_parts=N_PARTS, out_of_order=False,
    )
    secs = []
    for _ in range(GEN_REPEATS):  # deterministic: the same files each time
        t0 = time.perf_counter()
        dirs, binlog = _write_backlog(spec, os.path.join(base, "backlog"), CHUNKS)
        secs.append(time.perf_counter() - t0)
    _write_backlog(testgen.BinlogSpec(**{**spec.__dict__, "seed": spec.seed + 1}),
                   os.path.join(base, "warm"), CHUNKS)
    res.setup_parts["generate_s"] = median(secs)
    expected = expected_state(binlog)
    data_ts = binlog.filter(pc.not_equal(binlog.column("op"), "R")).column("commit_ts").to_numpy()

    def drain(tag: str, t: Tracer, src: str, want: pa.Table | None):
        table = LakeTable.create(spark, os.path.join(base, f"{tag}_t"), n_buckets=BULK_BUCKETS)
        _wrap_table(t, table)
        log = BatchLog(t)
        t_due = time.time()
        feed = ChangeFeed(
            table, src, os.path.join(base, f"{tag}_ck"),
            max_files_per_trigger=FILES_PER_CHUNK, post_batch=log,
        )
        feed.run_available()
        wall = time.time() - t_due
        # outside the timed region; warm-up drains are not checked
        problems = [] if want is None else _gate(t, table, want, tag)
        if t.enabled:
            res.layers["lake.max_files_per_bucket"] = table.max_files_per_bucket()
        for suffix in ("_t", "_ck"):
            shutil.rmtree(os.path.join(base, f"{tag}{suffix}"))
        return t_due, wall, log.batches, problems

    t0 = time.perf_counter()
    for i in range(WARM_DRAINS):
        drain(f"w{i}", Tracer(spark, False), os.path.join(base, "warm", "*"), None)
    res.setup_parts["warmup_s"] = time.perf_counter() - t0

    # a fixed drain count: stopping on elapsed time would let a fast run
    # take one more (warmer, faster) drain and skew its median
    totals = Totals(tr)
    rates, fresh, walls, batches = [], [], [], []
    for i in range(max(MIN_DRAINS, round(ctx.seconds / NOMINAL_DRAIN_S))):
        t_due, wall, log, problems = drain(f"d{i}", tr, os.path.join(base, "backlog", "*"), expected)
        vis = visible_times(data_ts, [(b["wall"], b["resolved"]) for b in log])
        missing = int(np.isnan(vis).sum())
        if missing:
            problems.append(f"d{i}: {missing} events never visible")
        res.attempted += len(data_ts)
        res.failed += len(data_ts) if problems else 0
        res.problems += problems
        fresh.append(vis[~np.isnan(vis)] - t_due)
        rates.append(len(data_ts) / wall)
        walls.append(wall)
        batches += log
    _spark_totals(res, totals.finish())

    f = np.concatenate(fresh)
    res.e2e["events_per_s"] = median(rates)
    res.e2e["freshness_p50_s"] = median(f)
    res.e2e["freshness_p90_s"] = percentile(f, 0.9)

    if tr.enabled:
        replay_s = _replay(ctx, dirs, None, BULK_BUCKETS)
        _layer_metrics(ctx, res, batches, len(data_ts) * len(walls), median(walls),
                       replay_s, len(dirs))
    return res


# ------------------------------------------------------- trickle_old_value

def trickle_old_value(ctx: Ctx) -> Result:
    """A preloaded table fed by an open-loop generator of small update drops
    into a running ChangeFeed.start() with old-value open-protocol MQ and a
    low compaction threshold, while a reader thread runs point lookups on
    its own LakeTable instance on a fixed schedule."""
    res = Result()
    spark, tr = ctx.spark, ctx.tracer
    base = os.path.join(ctx.work, "trickle")
    drops_dir, staging, mq_dir = (os.path.join(base, d) for d in ("drops", "staging", "mq"))
    os.makedirs(drops_dir)
    os.makedirs(staging)

    # ---- set-up. Drop 0 is the preload: the feed's first batch applies it.
    # Then WARM_DROPS drops follow at the window's rate.
    t0 = time.perf_counter()
    beat = _heartbeat(os.path.join(base, "beat"))
    drops: list[tuple[pa.Table, int]] = []

    def add_drop(spec: testgen.BinlogSpec) -> None:
        d = _sealed(testgen.generate_binlog(spec), beat)
        drops.append((d, pc.max(d.column("commit_ts")).as_py()))

    add_drop(testgen.BinlogSpec(
        n_events=TRICKLE_PRELOAD, n_keys=TRICKLE_KEYS, seed=ctx.seed, n_parts=N_PARTS,
    ))
    n_drops = 1 + WARM_DROPS + int(np.ceil(DROP_RATE * ctx.seconds * 1.2))
    for k in range(1, n_drops):
        add_drop(testgen.BinlogSpec(
            n_events=DROP_EVENTS, n_keys=TRICKLE_KEYS, seed=ctx.seed * 100_003 + k,
            start_ts=drops[-1][1] + 1, p_insert=0.05, p_update=0.9,
            p_delete=0.05, n_parts=N_PARTS,
        ))
    res.setup_parts["generate_s"] = time.perf_counter() - t0

    root = os.path.join(base, "table")
    table = LakeTable.create(spark, root, n_buckets=TRICKLE_BUCKETS)
    log = BatchLog(tr, table)
    feed = ChangeFeed(
        table, drops_dir, os.path.join(base, "ck"), post_batch=log,
        mq_dir=mq_dir, mq_partitions=MQ_PARTITIONS, mq_old_value=True,
        compact_max_deltas=COMPACT_MAX_DELTAS,
    )

    def deliver(k: int) -> None:
        # stage, then rename in: the feed never lists a half-written file
        tmp = os.path.join(staging, f"drop-{k:06d}.parquet")
        pq.write_table(drops[k][0], tmp)
        os.replace(tmp, os.path.join(drops_dir, f"drop-{k:06d}.parquet"))

    def wait_visible(ts: int, timeout: float) -> bool:
        end = time.time() + timeout
        while log.frontier() < ts:
            if q.exception() is not None or time.time() > end:
                return False
            time.sleep(0.02)
        return True

    def on_grid() -> float:
        """Spark fires processing-time triggers on multiples of the interval
        since the epoch. Drop schedules start on that grid, half a drop gap
        past a trigger, so no drop races a trigger's file listing and every
        run sees the same drop-to-trigger phase."""
        return np.ceil((time.time() + 0.5) / TRIGGER_S) * TRIGGER_S + 0.5 / DROP_RATE

    pristine = os.path.join(base, "pristine")
    t0 = time.perf_counter()
    q = feed.start(processing_time=f"{TRIGGER_S:g} seconds")
    try:
        deliver(0)
        if not wait_visible(drops[0][1], 90):
            raise RuntimeError(f"the preload never became visible: {q.exception()}")
        res.setup_parts["preload_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        shutil.copytree(root, pristine)  # the feed is idle until the next drop
        t_warm = on_grid()
        for k in range(1, 1 + WARM_DROPS):
            time.sleep(max(0.0, t_warm + (k - 1) / DROP_RATE - time.time()))
            deliver(k)
        if not wait_visible(drops[WARM_DROPS][1], 90):
            raise RuntimeError(f"the warm-up drops never became visible: {q.exception()}")
        res.setup_parts["warmup_s"] = time.perf_counter() - t0

        # ---- measured window: generator and reader, both on fixed schedules
        _wrap_table(tr, table)
        warm_batches = len(log.snapshot())
        warm_probes = len(getattr(table, "preimage_stats", []))
        sent: list[tuple[int, float, float]] = []   # (drop, due, delivered)
        reads: list[tuple[float, float, bool]] = []  # (due, done, ok)
        rng = np.random.default_rng(ctx.seed)
        totals = Totals(tr)
        t_start = on_grid()

        def generator():
            for j, k in enumerate(range(1 + WARM_DROPS, n_drops)):
                due = t_start + j / DROP_RATE
                if due >= t_start + ctx.seconds:
                    return
                time.sleep(max(0.0, due - time.time()))
                deliver(k)
                sent.append((k, due, time.time()))

        def reader():
            spark.sparkContext.setJobGroup(READER_GROUP, "perfbench point reads")
            mine = LakeTable(spark, root)
            for j in range(int(np.ceil(ctx.seconds / READ_EVERY_S))):
                due = t_start + j * READ_EVERY_S
                time.sleep(max(0.0, due - time.time()))
                keys = [f"doc_{x}" for x in rng.integers(0, TRICKLE_KEYS, READ_KEYS)]
                try:
                    with tr.span("lake.lookup", group=READER_GROUP):
                        got = [r["doc_id"] for r in mine.refresh().lookup(keys).collect()]
                    ok = len(got) == len(set(got)) and set(got) <= set(keys)
                except Exception:  # a failed lookup is a failed operation
                    ok = False
                reads.append((due, time.time(), ok))

        threads = [threading.Thread(target=generator), threading.Thread(target=reader)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(ctx.seconds + 90)
        if any(th.is_alive() for th in threads):
            raise RuntimeError("generator or reader thread did not finish")
        spark_totals = totals.finish()
        backlog_end = sum(1 for k, _, _ in sent if drops[k][1] > log.frontier())
        drained = wait_visible(drops[sent[-1][0]][1], 90)
    finally:
        q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"feed failed: {q.exception()}")

    batches = log.snapshot()
    window = batches[warm_batches:]
    tops = np.array([drops[k][1] for k, _, _ in sent], dtype=np.int64)
    vis = visible_times(tops, [(b["wall"], b["resolved"]) for b in batches])
    ok = ~np.isnan(vis)
    fresh = vis[ok] - np.array([d for _, d, _ in sent])[ok]
    bad_reads = sum(1 for *_, good in reads if not good)
    res.attempted += len(sent) + len(reads)
    res.failed += int((~ok).sum()) + bad_reads
    if not drained or not ok.all():
        res.problems.append(f"{int((~ok).sum())} of {len(sent)} drops never visible")
    if bad_reads:
        res.problems.append(f"{bad_reads} point lookups failed or returned a wrong key set")

    # ---- correctness, outside the timed region
    applied = pa.concat_tables([drops[k][0] for k in range(1 + WARM_DROPS)]
                               + [drops[k][0] for k, _, _ in sent])
    expected = expected_state(applied, upto_ts=log.frontier())
    problems = _gate(tr, table, expected, "trickle")
    released = pc.sum(pc.not_equal(applied.column("op"), "R")).as_py()
    msgs, nbytes = _mq_output(mq_dir)
    if msgs != released:
        problems.append(f"MQ carried {msgs} events, released {released}")

    L = res.layers
    L["testgen.lateness_p90_s"] = percentile([dl - d for _, d, dl in sent], 0.9)
    L["testgen.backlog_files_end"] = backlog_end
    L["reader.lookups"] = len(reads)
    L["reader.lookup_p50_s"] = median([done - d for d, done, _ in reads])
    if tr.enabled:
        problems += _trickle_layers(ctx, res, table, window, warm_probes, drops, sent, tops,
                                    drops_dir, pristine, nbytes / max(1, msgs))
    if problems:
        res.failed += len(sent)
        res.problems += problems

    res.e2e["events_per_s"] = sum(b["events"] for b in window) / sum(b["batch_s"] for b in window)
    res.e2e["freshness_p50_s"] = median(fresh)
    res.e2e["freshness_p90_s"] = percentile(fresh, 0.9)
    _spark_totals(res, spark_totals)
    return res


def _trickle_layers(ctx, res, table, window, warm_probes, drops, sent, tops, drops_dir,
                    pristine, bytes_per_event) -> list[str]:
    """Traced-run extras of trickle_old_value: layer figures of the feed's
    own calls; replays of each window batch's drops through the frontier,
    batch-replay, pre-image read and old-value encode calls; and an MQ
    round trip of the window's drops at the pandas boundary. A second feed,
    ChangeFeed(mq_framing="sized"), runs them from an empty table, and
    MQConsumer(framing="sized") decodes its frames into a downstream table,
    which must equal the oracle of those drops. Returns correctness
    problems."""
    from pyspark.sql import functions as F

    from ticdc_spark.functions.codec import KEY_FIELDS
    from ticdc_spark.streaming.changefeed import attach_old_value_json
    from ticdc_spark.streaming.consumer import MQConsumer
    from ticdc_spark.streaming.dispatch import dispatcher_for

    spark, tr, L = ctx.spark, ctx.tracer, res.layers
    lookups = tr.spans.get("lake.lookup", [])
    L["lake.lookup_s"] = median([s["sec"] for s in lookups])
    L["lake.lookup_tasks"] = median([s["tasks"] for s in lookups])
    L["lake.max_files_per_bucket"] = table.max_files_per_bucket()
    stats = getattr(table, "preimage_stats", [])[warm_probes:]
    L["lake.preimage_files_total"] = sum(s["files_total"] for s in stats)
    L["lake.preimage_prune_frac"] = (
        sum(s["files_read"] for s in stats) / max(1, L["lake.preimage_files_total"]))
    L["codec.bytes_per_event"] = bytes_per_event

    # one replay group per window batch: the drops that batch released
    groups, lo = [], 0
    for i, b in enumerate(window):
        hi = int(np.searchsorted(tops, b["resolved"], side="right"))
        if hi > lo:
            g = os.path.join(ctx.work, "replay_in", f"chunk-{i:05d}")
            os.makedirs(g)
            for k, _, _ in sent[lo:hi]:
                name = f"drop-{k:06d}.parquet"
                os.link(os.path.join(drops_dir, name), os.path.join(g, name))
            groups.append((g, b))
            lo = hi
    replay_s = _replay(ctx, [g for g, _ in groups], pristine, TRICKLE_BUCKETS)

    # the feed's MQ leg, replayed on the feed's table at each batch's
    # starting version: the pruned pre-image read, forced by a count, and
    # the old-value encode the feed runs, forced by a no-op write
    key_json = F.to_json(F.struct(*[F.col(c) for c in KEY_FIELDS])).alias("key_json")
    part = dispatcher_for("index-value", MQ_PARTITIONS, key_col="doc_id")
    for g, b in groups:
        ev = open_binlog(spark, g).filter(F.col("op") != "R")
        with tr.span("lake.preimage_read"):
            table.read_version_for_keys(b["pre_version"], ev.select("doc_id").distinct()).count()
        with tr.span("codec.encode"):
            attach_old_value_json(table, ev, b["pre_version"], key_json, part,
                                  n_events=b["events"]).write.format("noop").mode("overwrite").save()

    problems = []
    window_log = pa.concat_tables([drops[k][0] for k, _, _ in sent[:lo]])
    released = pc.sum(pc.not_equal(window_log.column("op"), "R")).as_py()
    sized_mq = os.path.join(ctx.work, "sized_mq")
    sized_table = LakeTable.create(spark, os.path.join(ctx.work, "sized_t"), n_buckets=TRICKLE_BUCKETS)
    slog = BatchLog(Tracer(spark, False))
    ChangeFeed(
        sized_table, os.path.join(ctx.work, "replay_in", "*"), os.path.join(ctx.work, "sized_ck"),
        max_files_per_trigger=SIZED_FILES_PER_TRIGGER, post_batch=slog,
        mq_dir=sized_mq, mq_partitions=MQ_PARTITIONS, mq_framing="sized",
    ).run_available()
    frames = events = 0
    for f in glob.glob(os.path.join(sized_mq, "batch-*", "partition=*", "*.parquet")):
        n = pq.read_table(f, columns=["n_events"]).column("n_events")
        frames += len(n)
        events += pc.sum(n).as_py() or 0
    if events != released:
        problems.append(f"sized MQ carried {events} events, released {released}")
    L["codec.sized_encode_s"] = median([b["mq_s"] for b in slog.batches])
    L["codec.events_per_message"] = events / max(1, frames)

    down = LakeTable.create(spark, os.path.join(ctx.work, "sized_down"), n_buckets=TRICKLE_BUCKETS)
    t0 = time.perf_counter()
    with tr.span("consumer.run"):
        consumed = MQConsumer(spark, sized_mq, down, framing="sized").run_once()
    run_s = time.perf_counter() - t0
    problems += _gate(tr, down, expected_state(window_log), "sized downstream")
    L["consumer.run_s"] = run_s / max(1, len(consumed))
    L["consumer.jobs"] = tr.total("consumer.run", "jobs") / max(1, len(consumed))
    L["consumer.events_per_s"] = events / run_s
    _layer_metrics(ctx, res, window, sum(b["events"] for b in window),
                   sum(b["batch_s"] for b in window), replay_s, len(groups))
    return problems


WORKLOADS = {
    "bulk_catchup": bulk_catchup,
    "trickle_old_value": trickle_old_value,
}
