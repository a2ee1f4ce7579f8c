"""Spark-free helpers of the benchmark: percentiles, counter diffs, the
freshness join and the vectorized final-state oracle.

Everything here works on numpy / pyarrow values only, so the self-tests in
perfbench/tests run without a SparkSession.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# a reported percentile needs at least this many samples beyond it
MIN_BEYOND = 10


def _rank(q: float, n: int) -> int:
    """1-based nearest-rank position of the q-quantile among n samples
    (rounded first, so 0.9 * 100 is rank 90, not 91)."""
    return max(1, int(np.ceil(round(q * n, 9))))


def supported(q: float, n: int) -> bool:
    """True when the q-quantile (0 < q < 1) of n samples has at least
    MIN_BEYOND samples above its rank."""
    return n - _rank(q, n) >= MIN_BEYOND


def percentile(values, q: float) -> float:
    """The nearest-rank q-quantile of `values`. Raises ValueError when the
    sample count cannot support q under the MIN_BEYOND rule, so a metric is
    never reported from a tail too thin to carry it."""
    v = np.sort(np.asarray(values, dtype=float))
    if not supported(q, len(v)):
        raise ValueError(
            f"p{round(q * 100)} needs {MIN_BEYOND} samples beyond it; have n={len(v)}"
        )
    return float(v[_rank(q, len(v)) - 1])


def median(values) -> float:
    return float(np.median(np.asarray(values, dtype=float)))


def diff_counters(before: dict, after: dict) -> dict:
    """after - before for cumulative counters. A counter that went DOWN
    means the snapshots are not from one run of one process: raise instead
    of reporting a negative count."""
    out = {}
    for k, b in after.items():
        a = before.get(k, 0)
        if b < a:
            raise ValueError(f"counter {k} went backwards: {a} -> {b}")
        out[k] = b - a
    return out


def visible_times(commit_ts, batches) -> np.ndarray:
    """The freshness join: for each event commit_ts, the wall time of the
    first batch whose resolved_ts covers it. `batches` is the post_batch
    sequence of (wall_time, resolved_ts) in callback order; resolved_ts is
    monotone in a feed, but a running max keeps the join correct even if a
    batch reported a lower frontier. Events no batch covered get NaN."""
    ts = np.asarray(commit_ts, dtype=np.int64)
    if not batches:
        return np.full(len(ts), np.nan)
    walls = np.array([b[0] for b in batches], dtype=float)
    frontier = np.maximum.accumulate(np.array([b[1] for b in batches], dtype=np.int64))
    idx = np.searchsorted(frontier, ts, side="left")
    out = np.full(len(ts), np.nan)
    ok = idx < len(frontier)
    out[ok] = walls[idx[ok]]
    return out


def expected_state(binlog: pa.Table, upto_ts: int | None = None) -> pa.Table:
    """Vectorized twin of ticdc_spark.oracle.apply_binlog: last write wins
    per doc_id in (commit_ts, seq, op_rank) order with delete(0) < put(1),
    resolved heartbeats (op='R') skipped, deletes removing the key."""
    t = binlog.filter(pc.not_equal(binlog.column("op"), "R"))
    if upto_ts is not None:
        t = t.filter(pc.less_equal(t.column("commit_ts"), upto_ts))
    rank = pc.if_else(pc.equal(t.column("op"), "D"), 0, 1)
    t = t.append_column("_rank", rank).sort_by(
        [("doc_id", "ascending"), ("commit_ts", "ascending"),
         ("seq", "ascending"), ("_rank", "ascending")]
    )
    keys = t.column("doc_id").to_numpy(zero_copy_only=False)
    if len(keys) == 0:
        last = np.array([], dtype=np.int64)
    else:
        last = np.flatnonzero(np.append(keys[1:] != keys[:-1], True))
    w = t.take(pa.array(last))
    w = w.filter(pc.not_equal(w.column("op"), "D"))
    return w.select(["doc_id", "tokens", "n_tok", "source"])

