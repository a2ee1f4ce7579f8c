"""Batch replay — the minimum end-to-end slice (SURVEY.md §7 step 1).

One epoch of the hot path (SURVEY.md §3.2 Spark mapping):

    events  = read(binlog)                         # scan
    resolved = min over parts of max(commit_ts)     # frontier
    batch   = events where commit_ts <= resolved    # sorter release rule
    winners = LWW collapse per doc_id               # sort+dedup
    MERGE into lake table, epoch_id = f(resolved)   # apply, exactly-once

Multi-epoch replay slices the commit_ts range so resume/idempotence tests can
kill and re-run mid-stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake.table import LakeTable
from ..operators.epochs import frontier_and_bounds
from ..operators.lww import lww_collapse_prearranged, lww_latest_agg

# LWW collapse strategies (operators/lww.py) the engine's apply path offers;
# both produce identical winners and differ only in physical plan
COLLAPSE = ("bucket_window", "agg")


def check_collapse(collapse: str, table: str | None = None) -> str:
    if collapse not in COLLAPSE:
        where = "" if table is None else f" for table {table!r}"
        raise ValueError(f"unknown collapse strategy {collapse!r}{where}")
    return collapse


def replay_epoch(
    table: LakeTable,
    events: DataFrame,
    epoch_id: str,
    collapse: str = "bucket_window",
    watermarks: dict | None = None,
) -> dict:
    """Dedup one epoch's events and merge — the apply step of batch replay
    and of both changefeeds. events: mounted rows carrying the key, op,
    commit_ts, seq and the table's current payload columns; watermarks: the
    span positions the commit persists (LakeTable.merge_epoch).

    collapse: "bucket_window" (default — a single payload shuffle fused
    with the bucketed MOR write, lww_collapse_prearranged) or "agg" (max_by
    with map-side partial aggregation: a hot key collapses across all input
    tasks BEFORE the shuffle — the choice for adversarial per-key skew).
    """
    check_collapse(collapse)
    key = table.key_col
    payload = [f["name"] for f in table.current_fields if f["name"] != key]
    cols = [key, "op", "commit_ts", "seq", *payload]
    ev = events.select(*cols)
    # NO persist: caching wide token rows into the columnar cache costs more
    # than recomputing (measured 10x worse at 32 threads — large-allocation
    # GC pressure).
    if collapse == "bucket_window":
        winners = lww_collapse_prearranged(
            ev, table._bucket_expr(table.bucket_col), table.n_buckets, [key]
        )
        return table.merge_epoch(
            winners, epoch_id, watermarks=watermarks, assume_deduped=True,
            prearranged=True,
        )
    return table.merge_epoch(
        lww_latest_agg(ev, [key]), epoch_id, watermarks=watermarks,
        assume_deduped=True,
    )


def replay_binlog(
    table: LakeTable,
    events: DataFrame,
    n_epochs: int = 1,
    epoch_prefix: str = "replay",
    stop_after_epoch: int | None = None,
    collapse: str = "bucket_window",
) -> list[dict]:
    """Replay a full binlog in `n_epochs` commit-ts slices.

    Epoch boundaries are deterministic functions of the resolved frontier so
    a restarted replay re-derives identical epochs → idempotent re-commits.
    stop_after_epoch simulates a crash for resume tests.
    """
    # NOTE: no persist of the full binlog — building the columnar cache for
    # wide token rows costs more than re-scanning parquet (bounds below is a
    # column-pruned scan of (part, commit_ts) only; measured ~10x cheaper
    # than a full-width materialization). For scan-once epoching use
    # replay_chunks, where each epoch reads only its own files.
    lo, resolved = frontier_and_bounds(events)
    if resolved < 0:
        return []
    stats = []
    width = max(1, (resolved - lo + 1 + n_epochs - 1) // n_epochs)
    prev_hi = lo - 1
    for e in range(n_epochs):
        hi = min(resolved, lo + (e + 1) * width - 1)
        sl = events.filter(
            (F.col("commit_ts") > prev_hi) & (F.col("commit_ts") <= hi)
        )
        epoch_id = f"{epoch_prefix}-{e:05d}-{hi}"
        stats.append(replay_epoch(table, sl, epoch_id, collapse=collapse))
        prev_hi = hi
        if stop_after_epoch is not None and e >= stop_after_epoch:
            break
        if hi >= resolved:
            break
    return stats


def replay_chunks(
    table: LakeTable,
    spark: SparkSession,
    chunk_dirs: list[str],
    epoch_prefix: str = "chunk",
    collapse: str = "bucket_window",
) -> list[dict]:
    """Scan-once replay: each epoch reads ONLY its own chunk of files (the
    arrival-ordered layout of testgen.write_binlog_chunks, i.e. what a
    streaming trigger hands foreachBatch). Per-epoch IO is proportional to
    the epoch, never the stream — the only layout that works at 10^10
    events. Epoch ids derive from the chunk names, so a killed replay
    re-runs idempotently."""
    stats = []
    for d in chunk_dirs:
        events = open_binlog(spark, d)
        name = d.rstrip("/").rsplit("/", 1)[-1]
        stats.append(
            replay_epoch(table, events, f"{epoch_prefix}-{name}", collapse=collapse)
        )
    return stats


def open_binlog(spark: SparkSession, path: str) -> DataFrame:
    from ..model import BINLOG_SCHEMA

    return spark.read.schema(BINLOG_SCHEMA).parquet(path)


def replay_chunks_keyless(
    kt,
    spark: SparkSession,
    chunk_dirs: list[str],
    epoch_prefix: str = "chunk",
) -> list[dict]:
    """Scan-once keyless (force-replicate) replay: each epoch reads only its
    own chunk and folds into the multiset via KeylessTable.apply_epoch
    (per-value-tuple delta aggregation, lake/keyless.py). Epoch ids derive
    from chunk names — a killed replay re-runs idempotently, exactly like
    replay_chunks."""
    from ..model import KEYLESS_BINLOG_SCHEMA, KEYLESS_OLD_COLS

    stats = []
    for d in chunk_dirs:
        events = spark.read.schema(KEYLESS_BINLOG_SCHEMA).parquet(d)
        name = d.rstrip("/").rsplit("/", 1)[-1]
        stats.append(
            kt.apply_epoch(
                events, f"{epoch_prefix}-{name}", old_cols=KEYLESS_OLD_COLS
            )
        )
    return stats
