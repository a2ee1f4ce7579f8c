"""Benchmark harness (driver contract): run the headline workload at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], print ONE JSON line.

Two parts:
  1. cdc_replay — the engine's reason to exist: synthesize a deterministic
     binlog (size scaled to the sf of the input dir), replay it through
     LWW dedup + epoch MERGE into the lake table; report wall seconds
     (events/sec derivable from n_events, also included).
  2. operator queries from __spark_entry__.queries() executed to a noop sink
     (full execution, no driver collect).

Scaling evidence (N vs 4N cores) is produced by tools/scaling_bench.py,
which re-invokes this file at two parallelism levels on the SAME input.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# binlog events for the replay headline; overridable for scaling runs
N_EVENTS = int(os.environ.get("SPARK_GRAFT_BENCH_EVENTS", "4000000"))

BENCH_QUERIES = [
    "cdc_lww_agg",
    "cdc_lww_semijoin",
    "codec_roundtrip",
    "cdc_final_state",
    "cdc_tokens_final_state",
    "q1_pricing",
    "text_quality",
    "text_fingerprint",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_keep_best",
    "dedup_boilerplate_strip",
    "dedup_simhash",
    "dedup_dup_spans",
    "tokens_dup_spans",
    "dedup_span_trim",
    "text_unigram_nll",
    "text_bigram_nll",
    "tokens_entropy",
    "tokens_decontaminate",
    "dedup_embedding",
    "embed_pca",
    "embed_kmeans",
    "semdedup",
    "decontam_fuzzy",
    "ann_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "codec_avro",
    "decontam_incremental",
    "curate_corpus",
    "curate_dsir",
    "tokens_pack",
    "tokens_pack_bins",
    "corpus_shuffle",
    "cdc_training_order",
    "events_sessionize",
    "events_asof_enrich",
    "tokens_oov_rate",
    "corpus_profile",
    "corpus_length_quantiles",
    "q5_region_orders",
    "cdc_bucket_checksum",
    "corpus_token_budget",
    "text_gopher_rules",
    "events_funnel",
    "cdc_hot_keys",
]


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def bench_replay(spark, work_root: str, n_events: int) -> dict:
    """End-to-end CDC apply over the arrival-chunked binlog layout (each
    epoch reads only its own files — the streaming-trigger access pattern):
    LWW dedup per epoch → idempotent bucket MERGE commits."""
    from ticdc_spark.engine.replay import replay_chunks
    from ticdc_spark.lake.table import LakeTable
    from ticdc_spark.testgen import BinlogSpec, write_binlog_chunks

    binlog_dir = os.path.join(work_root, f"binlog_c_{n_events}")
    if not os.path.exists(os.path.join(binlog_dir, "_DONE")):
        shutil.rmtree(binlog_dir, ignore_errors=True)
        spec = BinlogSpec(
            n_events=n_events,
            n_keys=max(1000, n_events // 10),
            seed=42,
            hot_frac=0.05,
            hot_keys=8,
            n_parts=32,
        )
        write_binlog_chunks(spec, binlog_dir, n_chunks=4, files_per_chunk=32)
        open(os.path.join(binlog_dir, "_DONE"), "w").write("ok")
    chunk_dirs = sorted(
        os.path.join(binlog_dir, d)
        for d in os.listdir(binlog_dir)
        if d.startswith("chunk-")
    )

    # warmup pass (JIT + page cache + codegen), then the measured replay on
    # a fresh table — single-run numbers are dominated by JVM warmup
    warm_dir = os.path.join(work_root, "bench_tbl_warm")
    shutil.rmtree(warm_dir, ignore_errors=True)
    warm_tbl = LakeTable.create(spark, warm_dir, n_buckets=64)
    replay_chunks(warm_tbl, spark, chunk_dirs, epoch_prefix="warm")

    # best-of-2 by default: the driver box carries unpredictable background
    # load, and a single-shot replay number turned r2 noise into "regressions"
    # (VERDICT r2 What's-wrong #3) — two interleaved-in-time trials with min()
    # keeps the measured number the machine's capability, not its worst moment
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    best_dt, rows, stats = None, 0, []
    for rep in range(reps):
        tbl_dir = os.path.join(work_root, "bench_tbl")
        shutil.rmtree(tbl_dir, ignore_errors=True)
        table = LakeTable.create(spark, tbl_dir, n_buckets=64)
        t0 = time.time()
        stats = replay_chunks(table, spark, chunk_dirs, epoch_prefix=f"bench{rep}")
        dt = time.time() - t0
        if best_dt is None or dt < best_dt:
            best_dt = dt
        rows = table.read().count()
    dt = best_dt
    return {
        "sec": round(dt, 3),
        "n_events": n_events,
        "events_per_sec": round(n_events / dt, 1),
        "epochs": len(stats),
        "final_rows": rows,
        "reps": reps,
    }


def bench_replay_skew(spark, work_root: str, n_events: int) -> dict:
    """Skew-stress replay: 60% of events hit 4 hot keys (the hot-region
    case the reference handles with TiKV region splits + table rebalancing).
    Runs with collapse="agg" — the documented skew configuration
    (ChangeFeed collapse / MultiTableChangeFeed collapse_overrides): max_by's
    map-side partial aggregation collapses hot keys across ALL input tasks
    before the shuffle, so throughput stays comparable to the uniform case —
    this row is the evidence. (The default bucket_window plan sorts a hot
    key's events in its single bucket task; see BENCH.md for the measured
    gap.) Same event count, chunking, and warmup protocol as the uniform
    replay so the two rows compare apples-to-apples."""
    from ticdc_spark.engine.replay import replay_chunks
    from ticdc_spark.lake.table import LakeTable
    from ticdc_spark.testgen import BinlogSpec, write_binlog_chunks

    binlog_dir = os.path.join(work_root, f"binlog_skew_{n_events}")
    if not os.path.exists(os.path.join(binlog_dir, "_DONE")):
        shutil.rmtree(binlog_dir, ignore_errors=True)
        spec = BinlogSpec(
            n_events=n_events,
            n_keys=max(1000, n_events // 10),
            seed=43,
            hot_frac=0.6,
            hot_keys=4,
            n_parts=32,
        )
        write_binlog_chunks(spec, binlog_dir, n_chunks=4, files_per_chunk=32)
        open(os.path.join(binlog_dir, "_DONE"), "w").write("ok")
    chunk_dirs = sorted(
        os.path.join(binlog_dir, d)
        for d in os.listdir(binlog_dir)
        if d.startswith("chunk-")
    )
    warm_dir = os.path.join(work_root, "bench_tbl_skew_warm")
    shutil.rmtree(warm_dir, ignore_errors=True)
    replay_chunks(LakeTable.create(spark, warm_dir, n_buckets=64), spark, chunk_dirs, epoch_prefix="warmskew", collapse="agg")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    best_dt, rows, stats = None, 0, []
    for rep in range(reps):
        tbl_dir = os.path.join(work_root, "bench_tbl_skew")
        shutil.rmtree(tbl_dir, ignore_errors=True)
        table = LakeTable.create(spark, tbl_dir, n_buckets=64)
        t0 = time.time()
        stats = replay_chunks(
            table, spark, chunk_dirs, epoch_prefix=f"skew{rep}", collapse="agg"
        )
        dt = time.time() - t0
        if best_dt is None or dt < best_dt:
            best_dt = dt
        rows = table.read().count()
    dt = best_dt
    return {
        "sec": round(dt, 3),
        "n_events": n_events,
        "events_per_sec": round(n_events / dt, 1),
        "hot_frac": 0.6,
        "hot_keys": 4,
        "epochs": len(stats),
        "final_rows": rows,
        "reps": reps,
    }


def bench_streaming(spark, work_root: str, n_events: int) -> dict:
    """Structured Streaming path: ChangeFeed availableNow over the chunked
    binlog glob (maxFilesPerTrigger-sized micro-batches, watermark gating,
    carry-over tail, idempotent epoch merges).

    NOTE: final_rows here reflects the watermark contract — only events at
    or below the last batch's resolved frontier are applied; the tail above
    it stays pending (sink-consistency prefix guarantee). Batch replay
    applies whole chunks, so the two final counts may differ by the tail's
    effect; each matches its own oracle slice (see tests/test_streaming.py).
    """
    import glob as g

    from ticdc_spark.lake.table import LakeTable
    from ticdc_spark.streaming.changefeed import ChangeFeed

    binlog_dir = os.path.join(work_root, f"binlog_c_{n_events}")
    stream_glob = os.path.join(binlog_dir, "chunk-*")
    n_files = len(g.glob(os.path.join(binlog_dir, "chunk-*", "*.parquet")))
    tbl_dir = os.path.join(work_root, "stream_tbl")
    ckpt = os.path.join(work_root, "stream_ckpt")
    shutil.rmtree(tbl_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    table = LakeTable.create(spark, tbl_dir, n_buckets=64)
    cf = ChangeFeed(
        table,
        stream_glob,
        checkpoint_dir=ckpt,
        mode="typed",
        lineage_dir=os.path.join(ckpt, "lineage"),
        max_files_per_trigger=max(1, n_files // 4),
    )
    t0 = time.time()
    summaries = cf.run_available()
    dt = time.time() - t0
    return {
        "sec": round(dt, 3),
        "events_per_sec": round(n_events / dt, 1),
        "batches": len(summaries),
        "final_rows": table.read().count(),
    }


def bench_stream_multi(spark, work_root: str, n_events: int) -> dict:
    """Multi-table streaming replication: two tables' ordered streams
    interleaved in ONE binlog dir (n_events total, half each), routed by
    the `table` column through per-table span frontiers, per-table LWW
    collapse + bucketed merges. The delta vs the single-table stream row
    is the multi feed's routing + frontier bookkeeping overhead."""
    import glob as g

    from ticdc_spark.lake.table import LakeTable
    from ticdc_spark.streaming.multi import MultiTableChangeFeed
    from ticdc_spark.testgen import BinlogSpec, write_binlog

    half = n_events // 2
    binlog = os.path.join(work_root, f"binlog_m_{n_events}")
    if not g.glob(os.path.join(binlog, "*.parquet")):
        os.makedirs(binlog, exist_ok=True)
        for tag, seed in (("ta", 171), ("tb", 172)):
            stage = os.path.join(work_root, f"stage_m_{tag}_{n_events}")
            shutil.rmtree(stage, ignore_errors=True)
            write_binlog(
                BinlogSpec(n_events=half, n_keys=max(1, half // 10), seed=seed,
                           table=tag, out_of_order=False),
                stage, files_per_part=8, align_ts=True,
            )
            for f in g.glob(stage + "/*.parquet"):
                os.link(f, os.path.join(binlog, f"{tag}-{os.path.basename(f)}"))
    n_files = len(g.glob(os.path.join(binlog, "*.parquet")))
    tables = {}
    for tag in ("ta", "tb"):
        d = os.path.join(work_root, f"multi_{tag}")
        shutil.rmtree(d, ignore_errors=True)
        tables[tag] = LakeTable.create(spark, d, n_buckets=32)
    ck = os.path.join(work_root, "multi_ckpt")
    shutil.rmtree(ck, ignore_errors=True)
    cf = MultiTableChangeFeed(
        tables, binlog, ck, max_files_per_trigger=max(1, n_files // 4)
    )
    t0 = time.time()
    summaries = cf.run_available()
    dt = time.time() - t0
    return {
        "sec": round(dt, 3),
        "events_per_sec": round(n_events / dt, 1),
        "batches": len(summaries),
        "final_rows": sum(t.read().count() for t in tables.values()),
    }


def bench_stream_split(spark, work_root: str, n_events: int) -> dict:
    """Dynamic span topology under streaming load: the SAME chunked stream
    as cdc_stream_replay, plus four idle heartbeat-driven root spans of
    which one SPLITS per chunk (op='S' control rows). The delta vs the
    plain stream row is the topology machinery's whole cost — one tiny
    control-row collect plus one metadata-only manifest commit per
    topology batch; the data path (shuffles, merges, buckets) is
    untouched by design."""
    import glob as g

    import pyarrow.compute as pc
    import pyarrow.parquet as pq_

    from ticdc_spark.lake.table import LakeTable
    from ticdc_spark.streaming.changefeed import ChangeFeed
    from ticdc_spark.testgen import write_resolved_events, write_topology_events

    src = os.path.join(work_root, f"binlog_c_{n_events}")
    binlog = os.path.join(work_root, f"binlog_cs_{n_events}")
    chunks = sorted(g.glob(os.path.join(src, "chunk-*")))
    if not g.glob(os.path.join(binlog, "chunk-*")):
        live = list(range(32, 36))  # idle roots beyond the 32 data parts
        next_child = 40
        for k, ch in enumerate(chunks):
            dst = os.path.join(binlog, os.path.basename(ch))
            os.makedirs(dst, exist_ok=True)
            for f in g.glob(os.path.join(ch, "*.parquet")):
                os.link(f, os.path.join(dst, os.path.basename(f)))
            hi = int(
                pc.max(
                    pq_.read_table(ch, columns=["commit_ts"]).column("commit_ts")
                ).as_py()
            )
            # idle spans stay live via heartbeats at the chunk's frontier
            hb = write_resolved_events(
                dst, {p: hi for p in live}, fname="zz-hb.parquet"
            )
            # one region split per chunk: always a span that exists since
            # feed start (roots), so any file->batch regrouping is safe
            parent = live.pop(0)
            c1, c2 = next_child, next_child + 1
            next_child += 2
            tp = write_topology_events(
                dst, [("S", parent, [c1, c2], hi + 1)], fname="zz-topo.parquet"
            )
            live.extend([c1, c2])
            # Structured Streaming's file source orders by MODIFICATION
            # TIME, and the hardlinked data files keep the original chunk
            # mtimes — stamp the control files with their chunk's mtime so
            # each chunk's heartbeats+split arrive IN that chunk's batch
            # (otherwise every control file sorts last, the idle roots pin
            # the frontier at -1, and the bench measures tail-carry, not
            # topology)
            data_files = [
                f
                for f in g.glob(os.path.join(dst, "*.parquet"))
                if not os.path.basename(f).startswith("zz-")
            ]
            mt = os.path.getmtime(data_files[0])
            for f in (hb, tp):
                os.utime(f, (mt, mt))
    stream_glob = os.path.join(binlog, "chunk-*")
    n_files = len(g.glob(os.path.join(binlog, "chunk-*", "*.parquet")))
    tbl_dir = os.path.join(work_root, "stream_split_tbl")
    ckpt = os.path.join(work_root, "stream_split_ckpt")
    shutil.rmtree(tbl_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    table = LakeTable.create(spark, tbl_dir, n_buckets=64)
    cf = ChangeFeed(
        table,
        stream_glob,
        checkpoint_dir=ckpt,
        mode="typed",
        n_parts=36,
        dynamic_spans=True,
        max_files_per_trigger=max(1, n_files // 4),
    )
    t0 = time.time()
    summaries = cf.run_available()
    dt = time.time() - t0
    return {
        "sec": round(dt, 3),
        "events_per_sec": round(n_events / dt, 1),
        "batches": len(summaries),
        "splits": sum(s.get("span_changes", 0) for s in summaries),
        "final_rows": table.read().count(),
    }


def bench_streaming_one_batch(spark, work_root: str, n_events: int) -> dict:
    """Streaming at a production batch size: ONE availableNow batch over the
    whole binlog. The delta vs the 4-batch row isolates the fixed per-
    trigger cost (checkpoint + offset log + plan setup, ~1 s/batch) — at
    production batch sizes it amortizes to noise, which this row evidences."""
    import glob as g

    from ticdc_spark.lake.table import LakeTable
    from ticdc_spark.streaming.changefeed import ChangeFeed

    binlog_dir = os.path.join(work_root, f"binlog_c_{n_events}")
    stream_glob = os.path.join(binlog_dir, "chunk-*")
    tbl_dir = os.path.join(work_root, "stream1_tbl")
    ckpt = os.path.join(work_root, "stream1_ckpt")
    shutil.rmtree(tbl_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    table = LakeTable.create(spark, tbl_dir, n_buckets=64)
    cf = ChangeFeed(table, stream_glob, checkpoint_dir=ckpt, mode="typed")
    t0 = time.time()
    summaries = cf.run_available()
    dt = time.time() - t0
    return {
        "sec": round(dt, 3),
        "events_per_sec": round(n_events / dt, 1),
        "batches": len(summaries),
        "final_rows": table.read().count(),
    }


def bench_stream_raw(spark, work_root: str, n_events: int) -> dict:
    """Raw-mode streaming replay: payload arrives as a JSON string and the
    mounter (`from_json` per schema version) decodes it per micro-batch —
    the §2.3 hot-path decode measured end-to-end. The raw binlog derives
    from the typed chunks with one vectorized to_json pass (cached)."""
    import glob as g

    from pyspark.sql import functions as F

    from ticdc_spark.lake.table import LakeTable
    from ticdc_spark.streaming.changefeed import ChangeFeed

    typed_dir = os.path.join(work_root, f"binlog_c_{n_events}")
    raw_dir = os.path.join(work_root, f"binlog_raw_{n_events}")
    if not os.path.exists(os.path.join(raw_dir, "_DONE")):
        shutil.rmtree(raw_dir, ignore_errors=True)
        for chunk in sorted(os.listdir(typed_dir)):
            if not chunk.startswith("chunk-"):
                continue
            df = spark.read.parquet(os.path.join(typed_dir, chunk))
            raw = df.select(
                "commit_ts", "seq", "table", "op", "doc_id",
                F.when(
                    F.col("op") != "D",
                    F.to_json(F.struct("tokens", "n_tok", "source")),
                ).alias("payload"),
                "part",
                "schema_version",
            )
            raw.write.mode("overwrite").parquet(os.path.join(raw_dir, chunk))
        open(os.path.join(raw_dir, "_DONE"), "w").write("ok")
    n_files = len(g.glob(os.path.join(raw_dir, "chunk-*", "*.parquet")))
    tbl_dir = os.path.join(work_root, "raw_tbl")
    ckpt = os.path.join(work_root, "raw_ckpt")
    shutil.rmtree(tbl_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    table = LakeTable.create(spark, tbl_dir, n_buckets=64)
    cf = ChangeFeed(
        table,
        os.path.join(raw_dir, "chunk-*"),
        checkpoint_dir=ckpt,
        mode="raw",
        max_files_per_trigger=max(1, n_files // 4),
    )
    t0 = time.time()
    summaries = cf.run_available()
    dt = time.time() - t0
    return {
        "sec": round(dt, 3),
        "events_per_sec": round(n_events / dt, 1),
        "batches": len(summaries),
        "final_rows": table.read().count(),
    }


def bench_stream_mq(spark, work_root: str, n_events: int) -> dict:
    """Streaming replay + MQ sink (open protocol), old-value OFF — the
    decomposition row between `cdc_stream_replay` (no MQ at all) and
    `cdc_stream_old_value`: this prices pure message emission
    (JSON-encode, dispatch repartition, per-partition commit-order sort,
    partitioned parquet write), so old_value - this = the old-value
    machinery alone (lag window + pre-batch snapshot join + wider rows)."""
    import glob as g

    from ticdc_spark.lake.table import LakeTable
    from ticdc_spark.streaming.changefeed import ChangeFeed

    binlog_dir = os.path.join(work_root, f"binlog_c_{n_events}")
    n_files = len(g.glob(os.path.join(binlog_dir, "chunk-*", "*.parquet")))
    tbl_dir = os.path.join(work_root, "mq_tbl")
    ckpt = os.path.join(work_root, "mq_ckpt")
    mq_dir = os.path.join(work_root, "mq_mq")
    for d in (tbl_dir, ckpt, mq_dir):
        shutil.rmtree(d, ignore_errors=True)
    table = LakeTable.create(spark, tbl_dir, n_buckets=64)
    cf = ChangeFeed(
        table,
        os.path.join(binlog_dir, "chunk-*"),
        checkpoint_dir=ckpt,
        mode="typed",
        max_files_per_trigger=max(1, n_files // 4),
        mq_dir=mq_dir,
        mq_partitions=32,
        mq_protocol="open",
    )
    t0 = time.time()
    summaries = cf.run_available()
    dt = time.time() - t0
    n_msgs = spark.read.parquet(os.path.join(mq_dir, "batch-*", "partition=*")).count()
    return {
        "sec": round(dt, 3),
        "events_per_sec": round(n_events / dt, 1),
        "batches": len(summaries),
        "final_rows": table.read().count(),
        "mq_messages": n_msgs,
    }


def bench_consumer_apply(spark, work_root: str, n_events: int) -> dict:
    """The DOWNSTREAM leg: MQConsumer replays the open-protocol MQ archive
    bench_stream_mq just wrote into a SECOND lake table (decode from_json at
    the consumer's schema → per-partition frontier fold → LWW → idempotent
    epoch merges) and the final state must equal the primary's — the
    kafka_consumer end-to-end story priced, not just tested. Throughput is
    events/sec over the same n_events the primary carried."""
    from ticdc_spark.lake.table import LakeTable
    from ticdc_spark.streaming.consumer import MQConsumer

    mq_dir = os.path.join(work_root, "mq_mq")
    primary_dir = os.path.join(work_root, "mq_tbl")
    down_dir = os.path.join(work_root, "mq_downstream")
    shutil.rmtree(down_dir, ignore_errors=True)
    t2 = LakeTable.create(spark, down_dir, n_buckets=64)
    consumer = MQConsumer(spark, mq_dir, t2)
    t0 = time.time()
    stats = consumer.run_once()
    dt = time.time() - t0
    rows = t2.read().count()
    primary_rows = LakeTable(spark, primary_dir).read().count()
    return {
        "sec": round(dt, 3),
        "events_per_sec": round(n_events / dt, 1),
        "batches": len(stats),
        "final_rows": rows,
        "matches_primary": rows == primary_rows,
    }


def bench_stream_mq_sized(spark, work_root: str, n_events: int) -> dict:
    """`cdc_stream_mq` with the batch-framed wire form (mq_framing='sized',
    reference defaults 16 events / 64 MiB per message): prices the
    applyInPandas framer against the per-row parquet write it replaces —
    at Kafka scale the framed form is what actually ships (~16x fewer
    messages)."""
    import glob as g

    from pyspark.sql import functions as F

    from ticdc_spark.lake.table import LakeTable
    from ticdc_spark.streaming.changefeed import ChangeFeed

    binlog_dir = os.path.join(work_root, f"binlog_c_{n_events}")
    n_files = len(g.glob(os.path.join(binlog_dir, "chunk-*", "*.parquet")))
    tbl_dir = os.path.join(work_root, "mqs_tbl")
    ckpt = os.path.join(work_root, "mqs_ckpt")
    mq_dir = os.path.join(work_root, "mqs_mq")
    for d in (tbl_dir, ckpt, mq_dir):
        shutil.rmtree(d, ignore_errors=True)
    table = LakeTable.create(spark, tbl_dir, n_buckets=64)
    cf = ChangeFeed(
        table,
        os.path.join(binlog_dir, "chunk-*"),
        checkpoint_dir=ckpt,
        mode="typed",
        max_files_per_trigger=max(1, n_files // 4),
        mq_dir=mq_dir,
        mq_partitions=32,
        mq_protocol="open",
        mq_framing="sized",
    )
    t0 = time.time()
    summaries = cf.run_available()
    dt = time.time() - t0
    msgs = spark.read.parquet(os.path.join(mq_dir, "batch-*", "partition=*"))
    agg = msgs.agg(F.count("*"), F.sum("n_events")).collect()[0]
    return {
        "sec": round(dt, 3),
        "events_per_sec": round(n_events / dt, 1),
        "batches": len(summaries),
        "final_rows": table.read().count(),
        "mq_messages": int(agg[0]),
        "framed_events": int(agg[1]),
    }


def bench_stream_old_value(spark, work_root: str, n_events: int) -> dict:
    """Streaming replay with the MQ sink in enable-old-value mode: every
    emitted message carries its pre-change image (in-batch via the LWW-
    shaped lag window; cross-batch via bucket-pruned pre-batch snapshot
    reads). The delta vs plain streaming prices the old-value machinery —
    one extra window + one bucket-pruned join per batch, both on the key
    partitioning the apply already pays for."""
    import glob as g

    from ticdc_spark.lake.table import LakeTable
    from ticdc_spark.streaming.changefeed import ChangeFeed

    binlog_dir = os.path.join(work_root, f"binlog_c_{n_events}")
    n_files = len(g.glob(os.path.join(binlog_dir, "chunk-*", "*.parquet")))
    tbl_dir = os.path.join(work_root, "oldval_tbl")
    ckpt = os.path.join(work_root, "oldval_ckpt")
    mq_dir = os.path.join(work_root, "oldval_mq")
    for d in (tbl_dir, ckpt, mq_dir):
        shutil.rmtree(d, ignore_errors=True)
    table = LakeTable.create(spark, tbl_dir, n_buckets=64)
    cf = ChangeFeed(
        table,
        os.path.join(binlog_dir, "chunk-*"),
        checkpoint_dir=ckpt,
        mode="typed",
        max_files_per_trigger=max(1, n_files // 4),
        mq_dir=mq_dir,
        mq_partitions=32,
        mq_protocol="open",
        mq_old_value=True,
    )
    t0 = time.time()
    summaries = cf.run_available()
    dt = time.time() - t0
    n_msgs = spark.read.parquet(os.path.join(mq_dir, "batch-*", "partition=*")).count()
    return {
        "sec": round(dt, 3),
        "events_per_sec": round(n_events / dt, 1),
        "batches": len(summaries),
        "final_rows": table.read().count(),
        "mq_messages": n_msgs,
    }


def bench_stream_old_value_sparse(
    spark,
    work_root: str,
    n_base: int = 1_000_000,
    n_trickle: int = 64,
    n_batches: int = 4,
) -> dict:
    """The SPARSE old-value path priced — the 10^10-scale design point where
    per-batch change volume ≪ corpus. A bulk batch loads an n_base-event
    snapshot (256 buckets), then n_batches trickle batches of n_trickle
    updates each ride the key-pruned pre-image read
    (lake.table.read_version_for_keys: per-file [min,max]+bloom probed
    on the driver, pre-collapse semi-join). Reports wall vs an identically-
    shaped plain-MQ run AND pruned-vs-total pre-image file counts — with 64
    probe keys against 256 base buckets, ≥3/4 of base files must prune, and
    later trickles bloom-prune earlier trickles' delta files too."""
    import glob as g

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as _pq

    from ticdc_spark.lake.table import LakeTable
    from ticdc_spark.streaming.changefeed import ChangeFeed
    from ticdc_spark.testgen import (
        BinlogSpec,
        write_binlog_chunks,
        write_resolved_events,
    )

    src = os.path.join(work_root, f"binlog_sp_{n_base}")
    if not os.path.exists(os.path.join(src, "_DONE")):
        shutil.rmtree(src, ignore_errors=True)
        spec = BinlogSpec(
            n_events=n_base,
            n_keys=max(1000, n_base // 4),
            seed=77,
            n_parts=32,
        )
        write_binlog_chunks(spec, src, n_chunks=1, files_per_chunk=32)
        # trickle chunks: n_trickle updates each on EXISTING keys, ts past
        # the bulk frontier, plus a heartbeat row per part so the resolved
        # frontier (min over parts) releases the whole trickle
        base_files = sorted(g.glob(os.path.join(src, "chunk-00000", "*.parquet")))
        t0 = _pq.read_table(base_files[0], columns=["doc_id", "commit_ts"])
        hi = 0
        for f in base_files:
            t = _pq.read_table(f, columns=["commit_ts"])
            hi = max(hi, int(pa.compute.max(t.column("commit_ts")).as_py()))
        keys = t0.column("doc_id").to_pylist()[: n_trickle * n_batches]
        rng = np.random.default_rng(7)
        for b in range(n_batches):
            ks = keys[b * n_trickle : (b + 1) * n_trickle]
            ts0 = hi + 1 + b * (n_trickle + 10)
            n = len(ks)
            chunk = os.path.join(src, f"chunk-{b + 1:05d}")
            os.makedirs(chunk, exist_ok=True)
            toks = [rng.integers(0, 50000, size=32).tolist() for _ in ks]
            cols = {
                "commit_ts": pa.array(
                    [ts0 + i for i in range(n)], pa.int64()
                ),
                "seq": pa.array(list(range(n)), pa.int64()),
                "table": pa.array(["target_tokens"] * n, pa.string()),
                "op": pa.array(["U"] * n, pa.string()),
                "doc_id": pa.array(ks, pa.string()),
                "tokens": pa.array(toks, pa.list_(pa.int32())),
                "n_tok": pa.array([32] * n, pa.int32()),
                "source": pa.array(["trickle"] * n, pa.string()),
                "part": pa.array([i % 32 for i in range(n)], pa.int32()),
                "schema_version": pa.array([0] * n, pa.int32()),
            }
            _pq.write_table(pa.table(cols), os.path.join(chunk, "data.parquet"))
            write_resolved_events(
                chunk, {p: ts0 + n for p in range(32)}, fname="hb.parquet"
            )
        open(os.path.join(src, "_DONE"), "w").write("ok")

    def run(old_value: bool) -> tuple[float, LakeTable, list]:
        tag = "ovs" if old_value else "ovs_plain"
        tbl_dir = os.path.join(work_root, f"{tag}_tbl")
        ckpt = os.path.join(work_root, f"{tag}_ckpt")
        mq_dir = os.path.join(work_root, f"{tag}_mq")
        for d in (tbl_dir, ckpt, mq_dir):
            shutil.rmtree(d, ignore_errors=True)
        table = LakeTable.create(spark, tbl_dir, n_buckets=256)
        wall = 0.0
        # one run_available per chunk: batch 1 is the bulk load, batches
        # 2..n+1 are the sparse trickles (the steady-state CDC shape)
        chunks = sorted(g.glob(os.path.join(src, "chunk-*")))
        live = os.path.join(work_root, f"{tag}_live")
        shutil.rmtree(live, ignore_errors=True)
        os.makedirs(live)
        for k, ch in enumerate(chunks):
            dst = os.path.join(live, os.path.basename(ch))
            os.makedirs(dst, exist_ok=True)
            for f in g.glob(os.path.join(ch, "*.parquet")):
                os.link(f, os.path.join(dst, os.path.basename(f)))
            cf = ChangeFeed(
                table,
                os.path.join(live, "chunk-*"),
                checkpoint_dir=ckpt,
                mode="typed",
                mq_dir=mq_dir,
                mq_partitions=32,
                mq_protocol="open",
                mq_old_value=old_value,
            )
            t0 = time.time()
            cf.run_available()
            wall += time.time() - t0
        return wall, table, getattr(table, "preimage_stats", [])

    # interleaved best-of-2 per mode: the first old-value pass carries the
    # sparse path's one-time codegen/JIT warmup (measured ~1.6x the warm
    # number), and a single ov-then-plain ordering would book that warmup
    # entirely against the old-value side
    sec_ov, tbl_ov, stats = run(True)
    sec_plain, _, _ = run(False)
    if os.environ.get("SPARK_GRAFT_BENCH_REPS", "2") != "1":
        sec_ov2, tbl_ov, stats = run(True)
        sec_plain = min(sec_plain, run(False)[0])
        sec_ov = min(sec_ov, sec_ov2)
    total = sum(s["files_total"] for s in stats)
    read = sum(s["files_read"] for s in stats)
    return {
        "sec": round(sec_ov, 3),
        "sec_plain": round(sec_plain, 3),
        "ratio_vs_plain": round(sec_ov / sec_plain, 3) if sec_plain else None,
        "n_base": n_base,
        "n_trickle": n_trickle,
        "n_batches": n_batches,
        "sparse_reads": len(stats),
        "pre_files_total": total,
        "pre_files_read": read,
        "prune_frac": round(1 - read / total, 3) if total else None,
        "final_rows": tbl_ov.read().count(),
    }


def bench_incremental_dedup(spark, work_root: str, sf_dir: str) -> dict:
    """The incremental-dedup value proposition, measured: index a corpus
    once, then compare the cost of absorbing a 1% UPDATE EPOCH through the
    CDC-incremental path (probe only the changed docs' bands) against a
    full batch minhash_lsh_pairs recompute of the whole corpus. The corpus
    is the documents table replicated 24x with per-replica WORD salting
    (every word suffixed _r{k}), so each replica keeps the original near-dup
    structure internally but shares no shingles across replicas — the corpus
    grows 24x while cluster sizes stay realistic. Batch cost is then
    corpus-bound; the update epoch is change-bound."""
    from pyspark.sql import functions as F

    from ticdc_spark.pipeline.dedup import minhash_lsh_pairs
    from ticdc_spark.pipeline.incremental import IncrementalLSHDeduper

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    reps = 24
    salted = F.concat_ws(
        " ",
        F.transform(
            F.split(F.col("text"), " "),
            lambda w: F.concat(w, F.lit("_r"), F.col("rep").cast("string")),
        ),
    )
    corpus = (
        docs.crossJoin(spark.range(reps).select(F.col("id").alias("rep")))
        .select(
            (F.col("doc_id") + F.col("rep") * F.lit(10_000_000)).alias("doc_id"),
            salted.alias("text"),
        )
        .localCheckpoint(eager=True)
    )
    n_docs = corpus.count()
    root = os.path.join(work_root, "incdedup")
    shutil.rmtree(root, ignore_errors=True)
    dd = IncrementalLSHDeduper(spark, root, id_type="bigint", n_buckets=16)
    base = corpus.select(
        "doc_id",
        F.lit("I").alias("op"),
        F.lit(1).cast("long").alias("commit_ts"),
        F.col("doc_id").alias("seq"),
        "text",
    )
    dd.process_epoch(base, "base")  # index build: one-time, not the row

    upd = corpus.filter(F.pmod(F.xxhash64("doc_id"), F.lit(100)) == 0).select(
        "doc_id",
        F.lit("U").alias("op"),
        F.lit(2).cast("long").alias("commit_ts"),
        F.col("doc_id").alias("seq"),
        F.concat_ws(" ", F.col("text"), F.lit("edited tail")).alias("text"),
    )
    n_upd = upd.count()
    t0 = time.time()
    dd.process_epoch(upd, "upd")
    inc_sec = round(time.time() - t0, 3)

    final = dd.corpus.read()
    t0 = time.time()
    _noop(minhash_lsh_pairs(final, n=3, threshold=0.7))
    batch_sec = round(time.time() - t0, 3)
    return {
        "corpus_docs": n_docs,
        "update_docs": n_upd,
        "incremental_epoch_sec": inc_sec,
        "batch_recompute_sec": batch_sec,
        "speedup": round(batch_sec / inc_sec, 2),
    }



def bench_incremental_shards(spark, work_root: str, n_keys: int = 400_000) -> dict:
    """The CDC-maintained shard export, measured: build a corpus-sized lake
    table once, export all shards once (the corpus-bound baseline), then
    absorb a TRICKLE epoch (8 changed keys — the steady-state CDC shape)
    through IncrementalShards.refresh(), which rewrites only the dirtied
    shards from bucket-pruned reads. Refresh cost is change-bound (≈
    dirtied_shards/n_shards of the export); the full export is corpus-bound
    no matter how small the change."""
    from pyspark.sql import functions as F

    from ticdc_spark.lake.table import LakeTable
    from ticdc_spark.pipeline.shards import IncrementalShards

    root = os.path.join(work_root, "incshards")
    shutil.rmtree(root, ignore_errors=True)
    fields = [
        {"id": 1, "name": "doc_id", "type": "string", "nullable": False},
        {"id": 2, "name": "n_tok", "type": "long"},
        {"id": 3, "name": "source", "type": "string"},
    ]
    t = LakeTable.create(
        spark, os.path.join(root, "tbl"), fields=fields, n_buckets=256
    )
    base = spark.range(n_keys).select(
        F.concat(F.lit("k"), F.col("id")).alias("doc_id"),
        F.lit("I").alias("op"),
        F.lit(1).cast("long").alias("commit_ts"),
        F.col("id").alias("seq"),
        (F.col("id") % 512).cast("long").alias("n_tok"),
        F.concat(F.lit("s"), F.col("id") % 8).alias("source"),
    )
    t.merge_epoch(base, "base")
    sh = IncrementalShards(t, os.path.join(root, "shards"), n_shards=64, seed=9)
    t0 = time.time()
    sh.refresh()  # first refresh = the full export (corpus-bound baseline)
    full_sec = round(time.time() - t0, 3)
    upd = spark.range(8).select(
        F.concat(F.lit("k"), F.col("id") * 1000).alias("doc_id"),
        F.lit("U").alias("op"),
        F.lit(2).cast("long").alias("commit_ts"),
        F.col("id").alias("seq"),
        F.lit(999).cast("long").alias("n_tok"),
        F.lit("s0").alias("source"),
    )
    t.merge_epoch(upd, "trickle")
    t0 = time.time()
    r = sh.refresh()
    inc_sec = round(time.time() - t0, 3)
    return {
        "corpus_keys": n_keys,
        "update_keys": 8,
        "shards_rewritten": r["shards_written"],
        "n_shards": 64,
        "full_export_sec": full_sec,
        "incremental_refresh_sec": inc_sec,
        "speedup": round(full_sec / inc_sec, 2) if inc_sec else None,
    }


def bench_replay_keyless(spark, work_root: str, n_rows: int) -> dict:
    """Force-replicate keyless replay: per-value-tuple multiplicity deltas
    folded into the multiset table (lake/keyless.py) — the whereSlice
    all-columns path re-expressed set-oriented. Event count ≈ 1.5 × n_rows
    (inserts + dup inserts + delete/update touches)."""
    from ticdc_spark.engine.replay import replay_chunks_keyless
    from ticdc_spark.lake.keyless import KeylessTable
    from ticdc_spark.testgen import write_keyless_binlog_chunks

    binlog_dir = os.path.join(work_root, f"binlog_kl_{n_rows}")
    meta = os.path.join(binlog_dir, "_DONE")
    if not os.path.exists(meta):
        shutil.rmtree(binlog_dir, ignore_errors=True)
        _, final_rows = write_keyless_binlog_chunks(
            n_rows, binlog_dir, n_chunks=4, seed=17
        )
        open(meta, "w").write(str(final_rows))
    final_expect = int(open(meta).read() or 0)
    chunk_dirs = sorted(
        os.path.join(binlog_dir, d)
        for d in os.listdir(binlog_dir)
        if d.startswith("chunk-")
    )
    import pyarrow.parquet as _pq

    n_events = sum(
        _pq.read_metadata(os.path.join(d, f)).num_rows
        for d in chunk_dirs
        for f in os.listdir(d)
    )
    fields = [
        {"id": 1, "name": "doc_id", "type": "string"},
        {"id": 2, "name": "tokens", "type": "array<int>"},
        {"id": 3, "name": "n_tok", "type": "int"},
        {"id": 4, "name": "source", "type": "string"},
    ]
    warm_root = os.path.join(work_root, "bench_kl_warm")
    shutil.rmtree(warm_root, ignore_errors=True)
    warm = KeylessTable.create(spark, warm_root, fields, n_buckets=64)
    replay_chunks_keyless(warm, spark, chunk_dirs, epoch_prefix="warm")
    root = os.path.join(work_root, "bench_kl")
    shutil.rmtree(root, ignore_errors=True)
    kt = KeylessTable.create(spark, root, fields, n_buckets=64)
    t0 = time.time()
    stats = replay_chunks_keyless(kt, spark, chunk_dirs, epoch_prefix="kl")
    dt = time.time() - t0
    from pyspark.sql import functions as F

    got = kt.read().agg(F.sum("mult")).collect()[0][0]
    assert got == final_expect, (got, final_expect)
    return {
        "sec": round(dt, 3),
        "n_events": n_events,
        "events_per_sec": round(n_events / dt, 1),
        "epochs": len(stats),
        "final_instances": int(got),
    }

def main() -> None:
    from ticdc_spark.session import build_session

    import __spark_entry__ as entrymod

    spark = build_session("ticdc-bench", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    work_root = os.environ.get("SPARK_GRAFT_BENCH_DIR", "/tmp/ticdc_bench")
    os.makedirs(work_root, exist_ok=True)

    only_replay = os.environ.get("SPARK_GRAFT_BENCH_ONLY_REPLAY") == "1"
    qtimes: dict[str, float] = {}
    replay = bench_replay(spark, work_root, N_EVENTS)
    qtimes["cdc_replay"] = replay["sec"]
    stream = None
    skew = None
    raw = None
    stream1 = None
    replay_big = None
    oldval = None
    oldval_sparse = None
    mq = None
    mq_sized = None
    incded = None
    incsh = None
    keyless = None
    multi = None
    split = None
    consumer = None
    if not only_replay:
        stream = bench_streaming(spark, work_root, N_EVENTS)
        qtimes["cdc_stream_replay"] = stream["sec"]
        stream1 = bench_streaming_one_batch(spark, work_root, N_EVENTS)
        qtimes["cdc_stream_one_batch"] = stream1["sec"]
        skew = bench_replay_skew(spark, work_root, N_EVENTS)
        qtimes["cdc_replay_skew"] = skew["sec"]
        raw = bench_stream_raw(spark, work_root, N_EVENTS)
        qtimes["cdc_stream_raw"] = raw["sec"]
        mq = bench_stream_mq(spark, work_root, N_EVENTS)
        qtimes["cdc_stream_mq"] = mq["sec"]
        consumer = bench_consumer_apply(spark, work_root, N_EVENTS)
        qtimes["cdc_consumer_apply"] = consumer["sec"]
        mq_sized = bench_stream_mq_sized(spark, work_root, N_EVENTS)
        qtimes["cdc_stream_mq_sized"] = mq_sized["sec"]
        oldval = bench_stream_old_value(spark, work_root, N_EVENTS)
        qtimes["cdc_stream_old_value"] = oldval["sec"]
        oldval_sparse = bench_stream_old_value_sparse(spark, work_root)
        qtimes["cdc_stream_old_value_sparse"] = oldval_sparse["sec"]
        incded = bench_incremental_dedup(spark, work_root, SF_DIR)
        qtimes["dedup_incremental_update"] = incded["incremental_epoch_sec"]
        incsh = bench_incremental_shards(spark, work_root)
        qtimes["shards_incremental_refresh"] = incsh["incremental_refresh_sec"]
        keyless = bench_replay_keyless(spark, work_root, N_EVENTS // 2)
        qtimes["cdc_replay_keyless"] = keyless["sec"]
        multi = bench_stream_multi(spark, work_root, N_EVENTS // 2)
        qtimes["cdc_stream_multi"] = multi["sec"]
        split = bench_stream_split(spark, work_root, N_EVENTS)
        qtimes["cdc_stream_split"] = split["sec"]
    if os.environ.get("SPARK_GRAFT_BENCH_BIG") == "1":
        # 4x-events replay (the sf≈1 row): generation is cached in work_root,
        # so repeat runs measure only the replay
        replay_big = bench_replay(spark, work_root, N_EVENTS * 4)
        qtimes["cdc_replay_big"] = replay_big["sec"]

    qs = entrymod.queries()
    qreps = int(os.environ.get("SPARK_GRAFT_BENCH_QUERY_REPS", "2"))
    names = [] if only_replay else BENCH_QUERIES
    # INTERLEAVED best-of-N (tools/bench_interleaved.py protocol, wired in
    # per VERDICT r4): trials round-robin across all queries so a transient
    # box-load spike degrades one trial of many queries instead of every
    # trial of one — the r4 driver run false-flagged 16 sub-3s rows whose
    # code was untouched. Rows whose prior driver time was <3 s get a third
    # trial (they're the noise-bound ones); multi-second rows keep 2.
    prior_q = _prior_queries()
    reps_of = {
        n: (qreps + 1 if float(prior_q.get(n) or 0.0) < 3.0 else qreps)
        for n in names
    }
    for name in names:  # warm: plan + JIT + parquet footer caches
        qs[name](spark, SF_DIR).count()
    trials: dict[str, list[float]] = {n: [] for n in names}
    for rep in range(max(reps_of.values(), default=0)):
        for name in names:
            if rep >= reps_of[name]:
                continue
            t0 = time.time()
            _noop(qs[name](spark, SF_DIR))
            trials[name].append(time.time() - t0)
    for name in names:
        qtimes[name] = round(min(trials[name]), 3)

    total = round(sum(qtimes.values()), 3)
    full = {
        "metric": "cdc_replay_plus_operator_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": qtimes,
        "sf": _sf_of(SF_DIR),
        "replay": replay,
        "stream": stream,
        "stream_one_batch": stream1,
        "replay_skew": skew,
        "stream_raw": raw,
        "stream_mq": mq,
        "consumer_apply": consumer,
        "stream_mq_sized": mq_sized,
        "stream_old_value": oldval,
        "stream_old_value_sparse": oldval_sparse,
        "replay_big": replay_big,
        "incremental_dedup": incded,
        "incremental_shards": incsh,
        "replay_keyless": keyless,
        "stream_multi": multi,
        "stream_split": split,
        "cpus": int(CPUS),
        "regressions": _regression_check(qtimes),
    }
    # full detail goes to a FILE (atomic tmp+rename); stdout gets ONE short
    # line so the driver's tail capture always parses (r2 shipped a line too
    # long to capture — BENCH_r02.json had parsed=null)
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_full.json"),
    )
    tmp = out_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    os.replace(tmp, out_path)
    short = {
        "metric": full["metric"],
        "value": total,
        "unit": "sec",
        "queries": qtimes,
        "sf": full["sf"],
        "cpus": int(CPUS),
        "replay_events_per_sec": replay and replay.get("events_per_sec"),
        "stream_events_per_sec": stream and stream.get("events_per_sec"),
        "n_regressions": len(full["regressions"]),
        "detail_file": out_path,
    }
    print(json.dumps(short, separators=(",", ":")))
    spark.stop()


def _queries_map_of(path: str) -> dict:
    """Extract the per-query timing map from a driver BENCH_r*.json (which
    wraps the bench stdout line) or from this repo's own output format."""
    try:
        with open(path) as f:
            doc = json.load(f)
    except (OSError, ValueError):
        return {}
    if isinstance(doc.get("queries"), dict):
        return doc["queries"]
    if isinstance(doc.get("parsed"), dict) and isinstance(
        doc["parsed"].get("queries"), dict
    ):
        return doc["parsed"]["queries"]
    if isinstance(doc.get("tail"), str) and '"queries"' in doc["tail"]:
        frag = doc["tail"]
        try:
            i = frag.index('"queries"')
            j = frag.index("{", i)
            depth, k = 0, j
            while k < len(frag):
                depth += frag[k] == "{"
                depth -= frag[k] == "}"
                k += 1
                if depth == 0:
                    break
            return json.loads(frag[j:k])
        except (ValueError, KeyError):
            return {}
    return {}


def _prior_queries() -> dict:
    """Per-row MIN over the LAST TWO driver-recorded benches (or the single
    file in SPARK_GRAFT_BENCH_BASELINE). Min-of-two-runs is the r4 verdict's
    guard fix: one noisy driver run must not become the baseline a clean
    run 'regresses' against."""
    base_path = os.environ.get("SPARK_GRAFT_BENCH_BASELINE")
    here = os.path.dirname(os.path.abspath(__file__))
    candidates = (
        [base_path]
        if base_path
        else sorted(
            (
                os.path.join(here, f)
                for f in os.listdir(here)
                if f.startswith("BENCH_r") and f.endswith(".json")
            ),
            reverse=True,
        )
    )
    merged: dict = {}
    used = 0
    for cand in candidates:
        qmap = _queries_map_of(cand)
        if not qmap:
            continue
        for k, v in qmap.items():
            try:
                v = float(v)
            except (TypeError, ValueError):
                continue
            merged[k] = min(merged.get(k, v), v)
        used += 1
        if used == 2:
            break
    return merged


def _regression_check(
    qtimes: dict, threshold: float = 1.2, floor_sec: float = 0.25
) -> list[dict]:
    """Flag [{query, prior, now, ratio}] for rows slower than threshold ×
    prior AND more than floor_sec absolute — prior being the per-row MIN of
    the last two driver runs (_prior_queries). The absolute floor keeps
    ±0.2 s scheduler jitter on sub-second rows from reading as a
    regression (r4: 16/61 false flags, all sub-3s, code untouched)."""
    prior_q = _prior_queries()
    out = []
    for name, now in qtimes.items():
        prior = prior_q.get(name)
        if (
            prior
            and now > threshold * float(prior)
            and now - float(prior) > floor_sec
        ):
            out.append(
                {
                    "query": name,
                    "prior": float(prior),
                    "now": now,
                    "ratio": round(now / float(prior), 3),
                }
            )
    return sorted(out, key=lambda r: -r["ratio"])


if __name__ == "__main__":
    main()

