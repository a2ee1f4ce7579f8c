"""LakeTable — a minimal Iceberg-semantics table format on plain parquet.

The production design targets Iceberg `MERGE INTO` (SURVEY.md §2.10: the
set-oriented replacement for the reference's REPLACE/DELETE SQL generation,
cdc/sink/mysql.go:947-1034). This container has no Iceberg runtime jar, so the
engine ships its own thin snapshot layer with the exact semantics the CDC
contract needs — all heavy lifting still done by Spark DataFrame ops:

  * versioned snapshots: `_manifests/v{n}.json` + atomic CURRENT pointer
    (Iceberg's catalog swap; here an os.replace on local fs)
  * bucket partitioning by hash(key) % n_buckets — the index-value dispatcher
    (cdc/sink/dispatcher/index_value.go:33-53): all versions of one key live
    in one bucket, so MERGE rewrites only touched buckets (copy-on-write)
    and untouched buckets carry forward by file reference (metadata-only)
  * idempotent epoch commits: each commit records its epoch_id; re-applying
    an already-committed epoch is a no-op — at-least-once delivery +
    idempotent apply = exactly-once final state (cdc/owner.go:706-800 +
    retry loop mysql.go:875-937)
  * conditional merge: rows carry (_commit_ts, _seq) version columns and the
    winner per key is max(commit_ts, seq, op_rank) — so replayed or
    out-of-order epochs can never regress state; deletes persist as
    tombstones (_deleted) so older events can't resurrect a deleted key
  * schema evolution by stable field ids (Iceberg-style): add / widen /
    rename are metadata-only commits; readers project old files to the
    current schema by field id (cdc/entry/schema_storage.go multi-version
    snapshot analog)

Scale notes (100 TB / 10^10 events): n_buckets sizes the rewrite quantum —
at scale use O(10^4-10^5) buckets so an epoch touching 1% of keys rewrites
~1% of data; the merge join is a broadcast anti-join when the epoch's key set
is small, else a shuffle join that AQE skew-splits. File listing is manifest
-driven (no directory scans), as in Iceberg.
"""

from __future__ import annotations

import base64
import glob
import hashlib
import json
import os
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model import (
    KEY_COL,
    OP_DELETE,
    SYS_COMMIT_TS,
    SYS_DELETED,
    SYS_SEQ,
)
from ..operators.lww import lww_latest_agg

_SYS_FIELDS = [
    T.StructField(SYS_COMMIT_TS, T.LongType(), False),
    T.StructField(SYS_SEQ, T.LongType(), False),
    T.StructField(SYS_DELETED, T.BooleanType(), False),
]

# ---------------------------------------------------------------------------
# Per-file key bloom sidecar (Iceberg puffin-blob analog). Built during the
# manifest stats pass when the table's `key_blooms` flag is on; lets
# read_version_for_keys prune FILES a key set cannot touch even when per-file
# [min_key, max_key] ranges span the whole keyspace (uniform hash-spread
# keys). No false negatives (double hashing, fixed seed), so pruning is
# always safe; a false positive just reads one extra file.

BLOOM_BITS_PER_KEY = 10  # ~0.8% fp at k=7
BLOOM_K = 7
BLOOM_MAX_BITS = 1 << 20  # 128 KiB of bits per file, cap

# pandas hash_array (SipHash-1-3, fixed 16-byte keys) — vectorized and
# process-independent, so blooms built on the commit path test identically
# in the pre-image probe; the |1 makes h2 odd so double-hash probes cycle m
_BLOOM_SEED1 = "ticdcsparkbloom1"
_BLOOM_SEED2 = "ticdcsparkbloom2"

PREIMAGE_STATS_KEEP = 1024  # LakeTable.preimage_stats entries kept


def _bloom_hashes(keys) -> tuple:
    """(h1, h2) uint64 arrays for a sequence of string keys."""
    import numpy as np
    import pandas as pd

    if isinstance(keys, np.ndarray) and keys.dtype == object:
        ks = keys  # already an object array of str (parquet/pandas path)
    else:
        ks = np.asarray([str(k) for k in keys], dtype=object)
    h1 = pd.util.hash_array(ks, hash_key=_BLOOM_SEED1, categorize=False)
    h2 = pd.util.hash_array(ks, hash_key=_BLOOM_SEED2, categorize=False) | np.uint64(1)
    return h1, h2


def build_key_bloom(keys) -> tuple[bytes, int, int]:
    """Bloom bits for an iterable of string keys → (bits, m, k)."""
    import numpy as np

    h1, h2 = _bloom_hashes(keys)
    n = len(h1)
    m = 1 << min(
        max(n * BLOOM_BITS_PER_KEY, 1024).bit_length(), BLOOM_MAX_BITS.bit_length() - 1
    )
    mm = np.uint64(m - 1)  # m is a power of two: x % m == x & (m-1)
    bits = np.zeros(m >> 3, dtype=np.uint8)
    for j in range(BLOOM_K):
        p = (h1 + np.uint64(j) * h2) & mm
        np.bitwise_or.at(
            bits,
            (p >> np.uint64(3)).astype(np.int64),
            np.left_shift(np.uint8(1), (p & np.uint64(7)).astype(np.uint8)),
        )
    return bits.tobytes(), m, BLOOM_K


def bloom_may_contain_vec(bits_np, m: int, k: int, h1, h2):
    """Vectorized membership: bool array over (h1, h2) probe pairs."""
    import numpy as np

    mm = np.uint64(m - 1)
    ok = np.ones(len(h1), dtype=bool)
    for j in range(k):
        p = (h1 + np.uint64(j) * h2) & mm
        byte = bits_np[(p >> np.uint64(3)).astype(np.int64)]
        ok &= (byte >> (p & np.uint64(7)).astype(np.uint8)) & 1 == 1
        if not ok.any():
            break
    return ok


def bloom_may_contain(bits: bytes, m: int, k: int, key: str) -> bool:
    import numpy as np

    h1, h2 = _bloom_hashes([key])
    return bool(bloom_may_contain_vec(np.frombuffer(bits, dtype=np.uint8), m, k, h1, h2)[0])


def probe_files(keys, buckets, metas: list[tuple[int, dict]]) -> list[int]:
    """File skipping for a key set: the indexes into `metas` of the files
    some key can touch. `keys` are str, `buckets[i]` is the group of
    `keys[i]`, and `metas` lists (group, manifest entry). A file is tested
    only against the keys of its own group: it is kept when one of them
    lies in its [min_key, max_key] (a file without stats passes this) and,
    when the file carries a key bloom, the bloom may hold one of those keys.
    Blooms have no false negatives, so every file holding a key is kept."""
    import numpy as np

    keys = np.asarray(keys, dtype=object)
    buckets = np.asarray(buckets, dtype=np.int64)
    order = np.argsort(buckets, kind="stable")
    groups, starts = np.unique(buckets[order], return_index=True)
    by_group = dict(zip(groups.tolist(), np.split(keys[order], starts[1:])))
    kept = []
    hashes: dict = {}
    for i, (g, e) in enumerate(metas):
        ks = by_group.get(g)
        if ks is None:
            continue
        lo, hi = e.get("min_key"), e.get("max_key")
        sel = (ks >= lo) & (ks <= hi) if lo is not None and hi is not None else slice(None)
        if not ks[sel].size:
            continue
        bl = e.get("bloom")
        if bl is not None:
            if g not in hashes:
                hashes[g] = _bloom_hashes(ks)
            h1, h2 = hashes[g]
            bits = np.frombuffer(base64.b64decode(bl["b64"]), dtype=np.uint8)
            if not bloom_may_contain_vec(bits, bl["m"], bl["k"], h1[sel], h2[sel]).any():
                continue
        kept.append(i)
    return kept


def _schema_to_json(fields: list[dict]) -> list[dict]:
    return fields


def _parse_type_normalized(type_str: str) -> str:
    """Canonical simpleString form of a type declaration — 'long' and
    'bigint' are the same Spark type; schema-compatibility comparisons must
    not distinguish aliases."""
    return T._parse_datatype_string(type_str).simpleString()


def _fields_to_struct(fields: list[dict], with_sys: bool = False) -> T.StructType:
    cols = [
        T.StructField(f["name"], T._parse_datatype_string(f["type"]), f.get("nullable", True))
        for f in fields
    ]
    return T.StructType(cols + (_SYS_FIELDS if with_sys else []))


class LakeTable:
    """One CDC-maintained table. Single-writer (the streaming driver), as in
    Structured Streaming's sink contract."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._manifest = self._load_current()

    # ---------------- manifest plumbing ----------------
    @property
    def _mdir(self) -> str:
        return os.path.join(self.root, "_manifests")

    def _load_current(self) -> dict:
        cur = os.path.join(self._mdir, "CURRENT")
        with open(cur) as f:
            v = int(f.read().strip())
        with open(os.path.join(self._mdir, f"v{v:08d}.json")) as f:
            return json.load(f)

    def refresh(self) -> "LakeTable":
        self._manifest = self._load_current()
        return self

    # the last manifest _load_version_manifest read: the feed's pre-image
    # read sizes (version_rows) and then reads one version back to back
    _version_memo: tuple[int, dict] | None = None

    def _load_version_manifest(self, version: int) -> dict:
        """Manifest v{version}, read-only. A committed manifest never
        changes, so the last one read is served again without a reload."""
        path = os.path.join(self._mdir, f"v{version:08d}.json")
        if not os.path.exists(path):
            raise ValueError(
                f"manifest v{version} expired/missing — incremental reads "
                "reach back only as far as expire_versions kept snapshots"
            )
        if self._version_memo is None or self._version_memo[0] != version:
            with open(path) as f:
                self._version_memo = (version, json.load(f))
        return self._version_memo[1]

    @contextmanager
    def _pinned(self, version: int):
        """Time travel: the table reads as of manifest v{version} inside
        the block."""
        saved = self._manifest
        self._manifest = self._load_version_manifest(version)
        try:
            yield
        finally:
            self._manifest = saved

    def _commit_manifest(self, m: dict) -> None:
        """Write manifest v{n}, then atomically swing CURRENT (the 'catalog
        swap'). Crash between the two leaves CURRENT at the parent — the
        orphaned manifest/data are invisible and the epoch re-applies cleanly."""
        os.makedirs(self._mdir, exist_ok=True)
        path = os.path.join(self._mdir, f"v{m['version']:08d}.json")
        self._version_memo = None  # a retry may rewrite an orphaned v{n}
        with open(path, "w") as f:
            json.dump(m, f, indent=1)
        tmp = os.path.join(self._mdir, f".CURRENT.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(m["version"]))
        os.replace(tmp, os.path.join(self._mdir, "CURRENT"))
        self._manifest = m

    # ---------------- creation ----------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        fields: list[dict] | None = None,
        n_buckets: int = 16,
        key_col: str = KEY_COL,
        bucket_col: str | None = None,
    ) -> "LakeTable":
        """fields: [{"id":1,"name":"doc_id","type":"string"}, ...]. Default =
        the input_hint token-table shape.

        bucket_col: partition the table by hash(bucket_col) instead of
        hash(key_col) — the Iceberg "bucket on a non-identifier column"
        layout. Used by derived secondary indexes (e.g. the LSH band index,
        pipeline.incremental) where co-location must follow the PROBE key
        (band hash) while row identity stays a unique composite key. Key
        lookups on such a table fall back to all-bucket file-stats pruning
        (files remain sorted by key inside every bucket)."""
        if fields is None:
            fields = [
                {"id": 1, "name": "doc_id", "type": "string", "nullable": False},
                {"id": 2, "name": "tokens", "type": "array<int>"},
                {"id": 3, "name": "n_tok", "type": "int"},
                {"id": 4, "name": "source", "type": "string"},
            ]
        m = {
            "version": 0,
            "parent": None,
            "epoch_id": None,
            "n_buckets": n_buckets,
            "key_col": key_col,
            "bucket_col": bucket_col,
            "schema_version": 0,
            "schemas": {"0": _schema_to_json(fields)},
            "buckets": {},
            "committed_epochs": [],
            "stats": {"rows_live": 0},
        }
        os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)
        tbl = cls.__new__(cls)
        tbl.spark = spark
        tbl.root = root
        tbl._manifest = m
        tbl._commit_manifest(m)
        return tbl

    # ---------------- schema ----------------
    @property
    def schema_version(self) -> int:
        return self._manifest["schema_version"]

    @property
    def current_fields(self) -> list[dict]:
        return self._manifest["schemas"][str(self.schema_version)]

    @property
    def schema(self) -> T.StructType:
        return _fields_to_struct(self.current_fields)

    @property
    def key_col(self) -> str:
        return self._manifest["key_col"]

    @property
    def n_buckets(self) -> int:
        return self._manifest["n_buckets"]

    @property
    def bucket_col(self) -> str:
        """Column whose hash places a row in its bucket (defaults to the key)."""
        return self._manifest.get("bucket_col") or self.key_col

    @property
    def committed_epochs(self) -> set:
        return set(self._manifest["committed_epochs"])

    def update_schema(self, ddl_type: str, spec: dict, epoch_id: str | None = None) -> bool:
        """Metadata-only schema commit. ddl_type ∈ {add_column, widen_column,
        rename_column, drop_column} (FIXTURES.md F3; reference DDL
        application: cdc/entry/schema_storage.go:539-624). Field ids are
        stable across rename/widen; a dropped id simply stops being
        projected — old files keep the bytes, readers skip them (Iceberg's
        evolution rule)."""
        if epoch_id is not None and epoch_id in self.committed_epochs:
            return False
        fields = self._evolved_fields(ddl_type, spec)
        m = json.loads(json.dumps(self._manifest))
        m.pop("commit_kind", None)  # kind describes THIS commit only
        m["parent"] = m["version"]
        m["version"] += 1
        m["schema_version"] += 1
        m["schemas"][str(m["schema_version"])] = fields
        if ddl_type == "truncate_table":
            m["buckets"] = {}
            m["clean_buckets"] = []
        m["epoch_id"] = epoch_id
        if epoch_id is not None:
            m["committed_epochs"].append(epoch_id)
        self._commit_manifest(m)
        return True

    def _evolved_fields(self, ddl_type: str, spec: dict) -> list[dict]:
        """The post-DDL field list (no commit) — shared by the metadata-only
        update_schema and the keyless rewrite-evolution path."""
        fields = [dict(f) for f in self.current_fields]
        if ddl_type == "add_column":
            # ids are NEVER reused (Iceberg's last-column-id rule) — a
            # re-added same-named column must not resurrect dropped bytes
            all_ids = [
                f["id"] for sch in self._manifest["schemas"].values() for f in sch
            ]
            next_id = max([*all_ids, self._manifest.get("last_field_id", 0)]) + 1
            nf = {"id": next_id, "name": spec["name"], "type": spec["type"]}
            if spec.get("default") is not None:
                # initial-default (Iceberg rule): fills rows written BEFORE
                # the column existed, at read time (_read_files); post-DDL
                # writes carry the column. ADD COLUMN ... DEFAULT x parity.
                nf["initial_default"] = spec["default"]
            fields.append(nf)
        elif ddl_type == "widen_column":
            for f in fields:
                if f["name"] == spec["name"]:
                    f["type"] = spec["to"]
                    break
            else:
                raise KeyError(spec["name"])
        elif ddl_type == "rename_column":
            for f in fields:
                if f["name"] == spec["from"]:
                    f["name"] = spec["to"]
                    break
            else:
                raise KeyError(spec["from"])
        elif ddl_type == "drop_column":
            if spec["name"] == self.key_col:
                raise ValueError("cannot drop the handle key")
            kept = [f for f in fields if f["name"] != spec["name"]]
            if len(kept) == len(fields):
                raise KeyError(spec["name"])
            fields = kept
        elif ddl_type == "modify_column":
            # arbitrary type change (ActionModifyColumn) — same field-list
            # effect as widen, but applied through the PHYSICAL rewrite in
            # modify_column() because the direction may be lossy
            if spec["name"] == self.key_col:
                raise ValueError("cannot modify the handle key's type")
            for f in fields:
                if f["name"] == spec["name"]:
                    f["type"] = spec["to"]
                    break
            else:
                raise KeyError(spec["name"])
        elif ddl_type in (
            "truncate_table", "add_partition", "drop_partition",
            "truncate_partition",
        ):
            # fields unchanged; truncate additionally drops every bucket's
            # file references in the SAME commit (schema_storage.go:539-624
            # truncate swaps in a fresh table id — one atomic transition).
            # Partition ops (schema_storage.go:586-624) are data operations
            # executed by delete_where at the barrier; the version bump
            # keeps the lake's schema_version in lockstep with the
            # registry's, which the mounter's decode math relies on.
            pass
        else:
            raise ValueError(f"unsupported ddl_type {ddl_type}")
        return fields

    def delete_where(
        self, where: str, barrier_ts: int, epoch_id: str | None = None
    ) -> dict:
        """Barrier-ordered bulk delete — the data half of drop/truncate
        PARTITION (cdc/entry/schema_storage.go:586-624): tombstone every
        live row matching the partition predicate, stamped
        (commit_ts=barrier_ts, seq=2^62) so any event at or below the
        barrier loses the conditional merge while later inserts re-add
        freely — exactly 'partition dropped as of ts T'. Set-oriented: one
        read of the live keys + one ordinary idempotent epoch commit."""
        if epoch_id is not None and epoch_id in self.committed_epochs:
            return {"committed": False}
        key = self.key_col
        payload = [f for f in self.current_fields if f["name"] != key]
        victims = self.read().filter(F.expr(where)).select(key)
        ch = victims.select(
            F.col(key),
            *[F.lit(None).cast(f["type"]).alias(f["name"]) for f in payload],
            F.lit("D").alias("op"),
            F.lit(int(barrier_ts)).cast("long").alias("commit_ts"),
            F.lit(1 << 62).cast("long").alias("seq"),
        )
        return self.merge_epoch(ch, epoch_id, assume_deduped=True)

    def modify_column(self, spec: dict, epoch_id: str | None = None) -> bool:
        """Non-widening column type change (the reference replicates
        arbitrary ``modify column``, cdc/entry/schema_storage.go:539-624
        ActionModifyColumn; stressed by tests/multi_source/main.go:74-131).
        Unlike widen_column — metadata-only, because the read-time cast is
        lossless — an arbitrary type change physically rewrites: the
        collapsed state (live rows AND tombstones, so replayed old events
        still lose the conditional merge) is cast to the new type and
        committed as ONE manifest carrying both the new schema version and
        the replacement buckets — the same atomic identity-rewrite commit
        the keyless layer uses (lake/keyless.py KeylessTable.evolve). Crash
        before the commit leaves orphan files only; replay no-ops on the
        committed epoch id. O(live rows) — the honest cost of a lossy DDL
        on a columnar store."""
        if epoch_id is not None and epoch_id in self.committed_epochs:
            return False
        fields = self._evolved_fields("modify_column", spec)
        # collapsed current state incl. tombstones + system columns, with
        # the column cast to its new type (a failed cast is NULL — MySQL
        # coerces too; the per-row outcome is the downstream contract)
        df = self.read_raw().withColumn(
            spec["name"], F.col(spec["name"]).cast(spec["to"])
        )
        out = df.withColumn("_bucket", self._bucket_expr(self.bucket_col))
        m = json.loads(json.dumps(self._manifest))
        m.pop("commit_kind", None)
        new_version = m["version"] + 1
        abs_dir = os.path.join(self.root, f"data/v{new_version:08d}")
        from ..functions.partitioning import identity_repartition

        (
            identity_repartition(out, self.n_buckets, "_bucket")
            .sortWithinPartitions("_bucket", self.key_col)
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(abs_dir)
        )
        m["parent"] = m["version"]
        m["version"] = new_version
        m["schema_version"] += 1
        m["schemas"][str(m["schema_version"])] = fields
        new_entries = self._scan_written(abs_dir)
        for es in new_entries.values():
            for e in es:
                e["schema_version"] = m["schema_version"]
        m["buckets"] = new_entries
        # collapsed to one row per key, but tombstones are retained, so the
        # buckets are NOT clean (read_raw must keep skipping deleted rows)
        m["clean_buckets"] = []
        m["epoch_id"] = epoch_id
        if epoch_id is not None:
            m["committed_epochs"].append(epoch_id)
        self._commit_manifest(m)
        return True

    # ---------------- read ----------------
    def _read_files(self, entries: list[dict]) -> DataFrame | None:
        """Read manifest file entries, projecting every schema version to the
        current schema by field id (select-by-old-name → rename → cast;
        missing field id → NULL). Mirrors the mounter's choose-snapshot-by-ts
        decode (cdc/entry/mounter.go:242-247) done at read time."""
        if not entries:
            return None
        by_ver: dict[int, list[str]] = {}
        for e in entries:
            by_ver.setdefault(e["schema_version"], []).append(
                os.path.join(self.root, e["path"])
            )
        cur = self.current_fields
        parts = []
        for ver, paths in by_ver.items():
            old = self._manifest["schemas"][str(ver)]
            old_by_id = {f["id"]: f for f in old}
            physical = _fields_to_struct(old, with_sys=True)
            df = self.spark.read.schema(physical).parquet(*paths)
            sel = []
            for f in cur:
                o = old_by_id.get(f["id"])
                if o is None:
                    # field didn't exist when this file was written: project
                    # its initial-default (ADD COLUMN ... DEFAULT x), NULL
                    # when the column was added without one
                    sel.append(
                        F.lit(f.get("initial_default")).cast(f["type"]).alias(f["name"])
                    )
                else:
                    sel.append(F.col(o["name"]).cast(f["type"]).alias(f["name"]))
            sel += [F.col(c.name) for c in _SYS_FIELDS]
            parts.append(df.select(*sel))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _bucket_entries(self, buckets: list[int] | None = None) -> list[dict]:
        bmap = self._manifest["buckets"]
        keys = [str(b) for b in buckets] if buckets is not None else list(bmap)
        return [e for k in keys for e in bmap.get(k, [])]

    def _collapse(self, df: DataFrame) -> DataFrame:
        """Read-time LWW: one winner per key by (commit_ts, seq, op_rank)
        with tombstone(0) < live(1) — merge-on-read over base + delta files
        (the same total order the sorter applies, entry_sorter.go:62-72)."""
        key = self.key_col
        payload = [c for c in df.columns if c != key]
        rank = F.struct(
            F.col(SYS_COMMIT_TS),
            F.col(SYS_SEQ),
            (~F.col(SYS_DELETED)).cast("int").alias("_op_rank"),
        )
        w = df.groupBy(key).agg(
            F.max_by(F.struct(*[F.col(c) for c in payload]), rank).alias("_w")
        )
        return w.select(key, *[F.col(f"_w.{c}").alias(c) for c in payload])

    def read_raw(self, buckets: list[int] | None = None) -> DataFrame:
        """Current state incl. tombstones and system columns (collapsed).

        Buckets marked clean (single file, tombstone-purged by compact) skip
        the collapse aggregation entirely — a compacted table reads as a
        plain scan, no shuffle (the read-amplification payoff of MOR+compact)."""
        clean = set(self._manifest.get("clean_buckets", []))
        keys = (
            [b for b in buckets]
            if buckets is not None
            else [int(b) for b in self._manifest["buckets"]]
        )
        clean_keys = [b for b in keys if b in clean]
        dirty_keys = [b for b in keys if b not in clean]
        parts = []
        dd = self._read_files(self._bucket_entries(dirty_keys))
        if dd is not None:
            parts.append(self._collapse(dd))
        cd = self._read_files(self._bucket_entries(clean_keys))
        if cd is not None:
            parts.append(cd)  # already one live row per key
        if not parts:
            return self.spark.createDataFrame([], _fields_to_struct(self.current_fields, with_sys=True))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read(self) -> DataFrame:
        """The visible table: live rows, logical schema only."""
        return (
            self.read_raw()
            .filter(~F.col(SYS_DELETED))
            .select(*[f["name"] for f in self.current_fields])
        )

    def lookup(self, keys: list[str]) -> DataFrame:
        """Point lookup: read ONLY the buckets the keys hash to (partition
        pruning via the dispatch hash — at 10^5 buckets a lookup touches
        ~len(keys) files, not the table). Same collapse semantics as read()."""
        if self.bucket_col == self.key_col:
            kdf = self.spark.createDataFrame(
                [(k,) for k in keys], f"{self.key_col} string"
            )
            rows = kdf.select(self._bucket_expr(self.key_col).alias("b")).distinct().collect()
            buckets = sorted(int(r["b"]) for r in rows)
        else:
            # bucketed by a non-key column: key hashes say nothing about
            # placement — fall back to every bucket and let the per-file
            # key min/max stats do the skipping (files stay key-sorted)
            buckets = [int(b) for b in self._manifest["buckets"]]
        df = self._read_files(self._lookup_entries(keys, buckets))
        if df is None:
            return self.spark.createDataFrame([], _fields_to_struct(self.current_fields))
        return (
            self._collapse(df)
            .filter(~F.col(SYS_DELETED))
            .filter(F.col(self.key_col).isin(keys))
            .select(*[f["name"] for f in self.current_fields])
        )

    def lookup_version(self, keys: list[str], version: int) -> DataFrame:
        """Version-pinned point lookup (time-travel `lookup`): the pruning
        and collapse run against the manifest of `version` — how a
        changelog consumer reads a changed key's PRE-epoch image without
        scanning the old snapshot (lake.verify.IncrementalChecksum). The
        file list is resolved eagerly, so the returned frame stays valid
        after the manifest swap ends."""
        with self._pinned(version):
            return self.lookup(keys)

    def _lookup_entries(self, keys: list[str], buckets: list[int]) -> list[dict]:
        """File skipping for point lookups: within the keyed buckets, keep
        only files whose [min_key, max_key] range could contain a requested
        key (entries without stats are always kept). Correctness does not
        depend on this — tombstone/recency collapse still sees every
        surviving version of a key because all its files share stats ranges
        containing the key."""
        entries = self._bucket_entries(buckets)
        skeys = sorted(str(k) for k in keys)
        import bisect

        out = []
        for e in entries:
            lo, hi = e.get("min_key"), e.get("max_key")
            if lo is None or hi is None:
                out.append(e)
                continue
            i = bisect.bisect_left(skeys, lo)
            if i < len(skeys) and skeys[i] <= hi:
                out.append(e)
        return out

    def bootstrap(self, snapshot: DataFrame, as_of_ts: int, epoch_id: str = "bootstrap") -> dict:
        """Initialize the table from a full snapshot taken at `as_of_ts` (the
        dumpling/BR restore that precedes `changefeed create --start-ts`,
        SURVEY.md §3.1: start-ts must be >= the snapshot ts). Rows carry
        (_commit_ts=as_of_ts, _seq=-1) so any change event with
        commit_ts > as_of_ts — or at the same ts with seq >= 0 — wins the
        conditional merge, and replayed pre-snapshot events cannot regress
        the state. Idempotent by epoch_id like any other commit."""
        key = self.key_col
        payload = [f["name"] for f in self.current_fields if f["name"] != key]
        ch = snapshot.select(
            F.col(key),
            *[F.col(c) for c in payload],
            F.lit("I").alias("op"),
            F.lit(as_of_ts).alias("commit_ts"),
            F.lit(-1).cast("long").alias("seq"),
        )
        return self.merge_epoch(ch, epoch_id, assume_deduped=True)

    def create_view(self, name: str) -> None:
        """Register the live table as a temp view so `spark.sql` queries run
        against it (the downstream-database query surface)."""
        self.read().createOrReplaceTempView(name)

    def read_version(self, version: int) -> DataFrame:
        """Time travel: read an old snapshot (Iceberg snapshot-id read)."""
        with self._pinned(version):
            return self.read()

    @property
    def version(self) -> int:
        return int(self._manifest["version"])

    def version_rows(self, version: int) -> int | None:
        """Total rows across a version's files from manifest stats; None
        when any entry predates per-file row counts (pre-r4 commits) — the
        caller then can't size the read and should take the bucket path."""
        total = 0
        for es in self._load_version_manifest(version)["buckets"].values():
            for e in es:
                if "rows" not in e:
                    return None
                total += int(e["rows"])
        return total

    def set_key_blooms(self, on: bool = True) -> None:
        """Toggle per-file key-bloom sidecars for FUTURE commits (files
        written earlier simply carry no bloom and are never pruned by it).
        Persisted with the next manifest commit; an old-value changefeed
        turns this on at attach time so its pre-image reads become
        change-bound."""
        self._manifest["key_blooms"] = bool(on)

    def read_version_for_keys(self, version: int, keys_df: DataFrame) -> DataFrame:
        """Pre-image read pruned to a requested key set (the enable-old-value
        cross-batch read): version-pinned like read_version_raw, but instead
        of whole touched buckets it reads only FILES the keys can touch.
        One job collects the (key, bucket) pairs of `keys_df` to the driver
        as Arrow, where they are deduplicated and `probe_files` tests them
        against each file's [min_key, max_key] range and key-bloom sidecar.
        The kept files are then semi-joined to a frame of those keys, in
        the key column's own type, BEFORE the LWW collapse, so the collapse
        shuffle is ∝ the requested keys' row versions, not the touched
        buckets' size.

        Driver bound: the rows of `keys_df`, held once as Arrow. The feed
        calls this only for a sparse batch (events * 4 < the snapshot's
        rows), so that is one sparse batch's keys, fewer than snapshot
        rows / 4; a bulk batch takes read_version_raw instead.

        Correctness: blooms have no false negatives, so every file holding a
        requested key survives pruning; ride-along rows of other keys are
        dropped by the semi-join before they can influence any per-key
        winner (with bucket_col == key_col a key's versions all live in its
        hash bucket's files; with a non-key bucket_col the probe consults
        EVERY file's sidecars — the per-bucket index is meaningless for key
        probes then — and all kept files collapse together). Clean
        (compacted) buckets skip the collapse as in read_raw (key-bucketed
        tables only). At 10^10-event scale this is the difference
        between an O(corpus-per-epoch) and an O(change-volume) pre-image
        read (VERDICT r3 structural item)."""
        import pyarrow as pa

        key = self.key_col
        with self._pinned(version):
            by_key = self.bucket_col == key
            clean = {int(b) for b in self._manifest.get("clean_buckets", [])}
            files = [(int(b), e) for b, es in self._manifest["buckets"].items() for e in es]
            empty = self.spark.createDataFrame(
                [], _fields_to_struct(self.current_fields, with_sys=True)
            )
            if not files:
                return empty
            # physical buckets hash bucket_col when it is not the key, so a
            # key's rows can live in ANY bucket: probe every file as one
            # group then (pruning still rides the sidecars)
            got = keys_df.select(
                F.col(key), (self._bucket_expr(key) if by_key else F.lit(0)).alias("_b")
            ).toArrow().group_by([key, "_b"]).aggregate([])
            kept = probe_files(
                got.column(key).cast(pa.string()).to_numpy(zero_copy_only=False),
                got.column("_b").to_numpy(),
                files if by_key else [(0, e) for _, e in files],
            )
            self._note_preimage(len(files), len(kept))
            kdf = F.broadcast(
                self.spark.createDataFrame(got.select([key]), keys_df.select(key).schema)
            )
            if by_key:
                dirty_e = [files[i][1] for i in kept if files[i][0] not in clean]
                clean_e = [files[i][1] for i in kept if files[i][0] in clean]
            else:
                # a key's versions can span buckets, so clean-bucket rows
                # and dirty-file rows of the SAME key must meet in one
                # collapse — the per-bucket clean shortcut would emit two
                # rows for such a key
                dirty_e, clean_e = [files[i][1] for i in kept], []
            parts = []
            dd = self._read_files(dirty_e)
            if dd is not None:
                parts.append(self._collapse(dd.join(kdf, key, "semi")))
            cd = self._read_files(clean_e)
            if cd is not None:
                parts.append(cd.join(kdf, key, "semi"))
            if not parts:
                return empty
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out

    def _note_preimage(self, files_total: int, files_read: int) -> None:
        """Pruning telemetry (bench/debug) of the last PREIMAGE_STATS_KEEP
        sparse pre-image reads, oldest first: files kept vs the version's
        total."""
        st = self.preimage_stats = getattr(self, "preimage_stats", [])
        st.append({"files_total": files_total, "files_read": files_read})
        del st[:-PREIMAGE_STATS_KEEP]

    def read_version_raw(
        self, version: int, buckets: list[int] | None = None
    ) -> DataFrame:
        """Time travel incl. tombstones + system columns, optionally
        bucket-pruned — the pre-image read old-value MQ emission uses (IO ∝
        the touched buckets at that version, never table size)."""
        with self._pinned(version):
            return self.read_raw(buckets)

    # ---------------- merge (the CDC apply) ----------------
    def _bucket_expr(self, col: str):
        return F.pmod(F.xxhash64(F.col(col)), F.lit(self.n_buckets)).cast("int")

    @property
    def part_watermarks(self) -> dict[str, int]:
        """Per-source-partition resolved watermarks (TaskPosition analog,
        cdc/model/owner.go:77-86), persisted with each commit."""
        return dict(self._manifest.get("part_watermarks", {}))

    @property
    def retired_parts(self) -> set[str]:
        """Spans retired by split/merge topology events (string part ids).
        Monotone-growing; a retired span never re-enters the universe."""
        return set(self._manifest.get("retired_parts", {}))

    @property
    def retired_positions(self) -> dict[str, int]:
        """Retirement checkpoints: part id → the span's final position when
        it left the universe. In-flight data at or below this (the carried
        tail) is legal; data above it is a fatal contract violation."""
        return {
            str(k): int(v)
            for k, v in self._manifest.get("retired_parts", {}).items()
        }

    def merge_epoch(
        self,
        changes: DataFrame,
        epoch_id: str,
        watermarks: dict | None = None,
        assume_deduped: bool = False,
        mode: str = "mor",
        prearranged: bool = False,
    ) -> dict:
        """Apply one epoch of change rows. Exactly-once by epoch_id;
        conditional on (commit_ts, seq, op_rank) recency.

        mode="mor" (default): MERGE-ON-READ — the epoch's winners append as
        delta files per bucket; readers collapse base+deltas by LWW and
        compact() folds them. ONE Spark job per epoch (the delta write): no
        old-bucket read, no union re-aggregation, no touched-bucket pre-pass
        — the high-throughput CDC ingest path (Iceberg MOR equivalent).

        mode="cow": COPY-ON-WRITE — read touched buckets, union, collapse,
        rewrite; read() stays collapse-free cheap. Used by compact().

        changes columns: key_col, op, commit_ts, seq, + current payload cols.
        Returns stats dict {committed, touched_buckets, rows_written}.

        prearranged=True (MOR only): the caller guarantees `changes` already
        carries a `_bucket` column equal to this table's bucket expression,
        is hash-partitioned by it, holds one row per key, and is key-sorted
        within each bucket — the contract lww_collapse_prearranged
        establishes. The write then adds NO exchange and NO sort (the
        dynamic-partition writer's required [_bucket] ordering is satisfied
        by the window's (_bucket, key) sort): the epoch's single payload
        shuffle is the one the collapse already paid. Only valid for
        key-bucketed tables (bucket_col == key_col) — with a non-key
        bucket_col a key's rows span buckets and per-bucket ranking would
        be wrong, so this raises.
        """
        if epoch_id in self.committed_epochs:
            return {"committed": False, "reason": "epoch already committed"}

        key = self.key_col
        payload_names = [f["name"] for f in self.current_fields if f["name"] != key]

        if prearranged:
            if mode != "mor" or not assume_deduped:
                raise ValueError("prearranged merge requires mode='mor' and assume_deduped=True")
            if self.bucket_col != key:
                raise ValueError(
                    "prearranged merge needs a key-bucketed table "
                    f"(bucket_col={self.bucket_col!r} != key_col={key!r})"
                )
            if "_bucket" not in changes.columns:
                raise ValueError("prearranged merge expects a _bucket column")

        # normalize change rows -> (key, payload..., sys cols); a pure
        # projection, so a prearranged input keeps its partitioning/order
        ch = changes.select(
            F.col(key),
            *[F.col(c) for c in payload_names],
            F.col("commit_ts").alias(SYS_COMMIT_TS),
            F.col("seq").alias(SYS_SEQ),
            (F.col("op") == OP_DELETE).alias(SYS_DELETED),
            *([F.col("_bucket")] if prearranged else []),
        )
        if not prearranged:
            ch = ch.withColumn("_bucket", self._bucket_expr(self.bucket_col))
        if not assume_deduped:
            # collapse within the epoch so deltas carry one row per key
            ch = self._collapse(ch)

        if mode == "cow":
            return self._merge_cow(ch, epoch_id, watermarks)

        new_version = self._manifest["version"] + 1
        data_dir = f"data/v{new_version:08d}"
        abs_dir = os.path.join(self.root, data_dir)
        from ..functions.partitioning import identity_repartition

        # identity_repartition: one bucket dir per task (dense bucket ids
        # hash-collide under a plain repartition — see functions/
        # partitioning.py); leading the sort with _bucket also hands the
        # partitioned writer the ordering it requires, so it injects none
        out = (
            ch
            if prearranged
            else identity_repartition(
                ch, self.n_buckets, "_bucket"
            ).sortWithinPartitions("_bucket", key)
        )
        (
            out.write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(abs_dir)
        )
        new_entries = self._scan_written(abs_dir)
        touched = list(new_entries)
        self._finalize_commit(
            epoch_id, new_entries, 0, [int(b) for b in touched], watermarks, replace=False
        )
        return {
            "committed": True,
            "touched_buckets": len(touched),
            "rows_written": 0,
            "version": self._manifest["version"],
            "mode": "mor",
        }

    def _scan_written(self, abs_dir: str) -> dict:
        """Collect written files per bucket from a partitioned write dir,
        recording each file's key min/max from the parquet footer (files are
        sortWithinPartitions(key), so footer stats are tight) — the Iceberg
        manifest column-stats analog used for lookup() data skipping. In a
        production Iceberg sink the write tasks report these stats; here the
        driver reads footers (O(files-per-epoch), metadata-only)."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        key = self.key_col
        blooms_on = bool(self._manifest.get("key_blooms"))
        if blooms_on:
            # blooms only pay on SPARSE epochs (same 4x rule as the
            # adaptive pre-image read): a bulk epoch's file holds every key
            # of its bucket, so its bloom matches every probe — building it
            # would cost a key-column scan for zero pruning. Sparse deltas
            # are exactly the files a later batch's probe needs to skip.
            prev = 0
            known = True
            for es in self._manifest["buckets"].values():
                for e in es:
                    if "rows" not in e:
                        known = False
                        break
                    prev += int(e["rows"])
                if not known:
                    break
            written = 0
            for p in glob.glob(os.path.join(abs_dir, "_bucket=*", "*.parquet")):
                try:
                    written += pq.ParquetFile(p).metadata.num_rows
                except Exception:
                    written = prev  # unreadable → be conservative, skip blooms
                    break
            blooms_on = known and prev > 0 and written * 4 < prev
        files: list[tuple[str, str]] = []
        for bdir in sorted(glob.glob(os.path.join(abs_dir, "_bucket=*"))):
            b = bdir.split("_bucket=")[-1]
            for p in sorted(glob.glob(os.path.join(bdir, "*.parquet"))):
                files.append((b, p))

        def stat(item: tuple[str, str]) -> tuple[str, dict]:
            b, p = item
            e = {
                "path": os.path.relpath(p, self.root),
                "schema_version": self.schema_version,
            }
            try:
                pf = pq.ParquetFile(p)
                md = pf.metadata
                idx = md.schema.to_arrow_schema().get_field_index(key)
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st is None or not st.has_min_max:
                        mins, maxs = [], []
                        break
                    mins.append(st.min)
                    maxs.append(st.max)
                if mins:
                    e["min_key"] = min(mins)
                    e["max_key"] = max(maxs)
                e["rows"] = md.num_rows
                if blooms_on and md.num_rows <= BLOOM_MAX_BITS // BLOOM_BITS_PER_KEY:
                    # key-bloom sidecar (puffin-blob analog): one pass over
                    # the freshly written file's key column. In a production
                    # Iceberg sink the WRITE TASKS emit these; here the
                    # stats pool builds them from local just-written files.
                    # Files with more keys than the capped bloom holds are
                    # skipped: a saturated bloom matches every probe, so
                    # building it would cost the scan for zero pruning.
                    import pyarrow as pa

                    ks = (
                        pf.read(columns=[key])
                        .column(0)
                        .cast(pa.string())  # match the probe's cast-to-string
                        .to_numpy(zero_copy_only=False)
                    )
                    bits, m, k = build_key_bloom(ks)
                    e["bloom"] = {
                        "m": m,
                        "k": k,
                        "b64": base64.b64encode(bits).decode("ascii"),
                    }
            except Exception:
                pass  # stats are an optimization, never a correctness need
            return b, e

        out: dict[str, list[dict]] = {}
        if files:
            # footer reads are I/O + GIL-releasing pyarrow calls — a thread
            # pool turns the per-epoch O(files) serial driver stall into an
            # O(files / pool) one (this sits on EVERY epoch's commit path;
            # measured as the dominant serial fraction at small epochs)
            with ThreadPoolExecutor(max_workers=min(16, len(files))) as ex:
                for b, e in ex.map(stat, files):
                    out.setdefault(b, []).append(e)
        return out

    def _merge_cow(self, ch: DataFrame, epoch_id: str, watermarks: dict | None) -> dict:
        """Copy-on-write apply: read touched buckets, collapse old ∪ new,
        rewrite those buckets (the set-oriented MERGE INTO equivalent of the
        reference's REPLACE/DELETE SQL, cdc/sink/mysql.go:947-1034)."""
        key = self.key_col

        touched = [r["_bucket"] for r in ch.select("_bucket").distinct().collect()]
        if not touched:
            # empty epochs still advance the checkpoint
            # (heap_sorter.go:115-122 empty-flush analog: metadata commit)
            self._finalize_commit(epoch_id, {}, 0, touched, watermarks)
            return {"committed": True, "touched_buckets": 0, "rows_written": 0}

        old = self._read_files(self._bucket_entries(touched))
        unioned = ch.drop("_bucket") if old is None else old.unionByName(ch.drop("_bucket"))
        out = self._collapse(unioned).withColumn("_bucket", self._bucket_expr(self.bucket_col))

        new_version = self._manifest["version"] + 1
        abs_dir = os.path.join(self.root, f"data/v{new_version:08d}")
        from ..functions.partitioning import identity_repartition

        n_parts = max(1, min(len(touched), 256))
        (
            identity_repartition(out, n_parts, "_bucket", domain=sorted(touched))
            .sortWithinPartitions("_bucket", key)
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(abs_dir)
        )
        new_entries = self._scan_written(abs_dir)
        self._finalize_commit(epoch_id, new_entries, 0, touched, watermarks, replace=True)
        return {
            "committed": True,
            "touched_buckets": len(touched),
            "rows_written": 0,
            "version": self._manifest["version"],
            "mode": "cow",
        }

    def _finalize_commit(
        self,
        epoch_id: str,
        new_entries: dict,
        rows_written: int,
        touched: list[int],
        watermarks: dict | None = None,
        replace: bool = True,
    ) -> None:
        m = json.loads(json.dumps(self._manifest))
        m.pop("commit_kind", None)  # kind describes THIS commit only
        m["parent"] = m["version"]
        m["version"] += 1
        m["epoch_id"] = epoch_id
        m["committed_epochs"].append(epoch_id)
        clean = set(m.get("clean_buckets", []))
        for b in touched:
            if replace:
                # COW rewrite = collapsed one-row-per-key file → clean
                m["buckets"][str(b)] = new_entries.get(str(b), [])
                clean.add(int(b))
            else:
                # MOR delta append → bucket needs read-time collapse again
                m["buckets"].setdefault(str(b), []).extend(new_entries.get(str(b), []))
                clean.discard(int(b))
        m["clean_buckets"] = sorted(clean)
        if watermarks:
            wm = m.setdefault("part_watermarks", {})
            retired = dict(m.get("retired_parts", {}))
            for k, v in watermarks.items():
                k = str(k)
                if isinstance(v, dict) and "retired_at" in v:
                    # span retirement (region split/merge, model.TOPOLOGY_OPS):
                    # the part leaves the universe — its position must stop
                    # pinning the frontier (children carry it forward). The
                    # retirement checkpoint is kept: in-flight data at or
                    # below it (the carried tail) is still legal; data above
                    # it can never arrive (the old region's stream ended).
                    retired[k] = max(int(v["retired_at"]), int(retired.get(k, -1)))
                    continue
                # watermarks are monotone (puller.go:163-168 contract)
                wm[k] = max(int(v), int(wm.get(k, -1)))
            if retired:
                m["retired_parts"] = {k: retired[k] for k in sorted(retired)}
                # idempotent under replay: a re-delivered pre-split batch
                # may re-offer the parent's watermark — drop it again
                for k in retired:
                    wm.pop(k, None)
            if not wm:
                # retirement-only commit with an empty remaining universe:
                # no syncpoint (no frontier to record)
                self._commit_manifest(m)
                return
            # syncpoint record (cdc/sink/mysql.go:1364-1426 analog): map the
            # upstream consistency point (primary_ts = resolved frontier) to
            # the downstream snapshot (secondary = this manifest version) so
            # a point-in-time read of "upstream state at ts" is
            # read_version(syncpoint.version)
            m.setdefault("syncpoints", []).append(
                {
                    "epoch_id": epoch_id,
                    "primary_ts": min(int(v) for v in wm.values()),
                    "version": m["version"],
                }
            )
        self._commit_manifest(m)

    def advance_watermarks(self, watermarks: dict, epoch_id: str) -> bool:
        """Metadata-only commit of span positions / retirements (no data
        files). Used by a feed whose batch produced no merge (e.g. a
        topology-only or heartbeat-only batch) but whose span-universe
        changes MUST persist — the topology event's file is consumed by the
        streaming source and never re-read. Idempotent by epoch_id."""
        if epoch_id in self.committed_epochs:
            return False
        self._finalize_commit(epoch_id, {}, 0, [], watermarks, replace=False)
        return True

    def clamp_watermarks(self, cap: int, epoch_id: str) -> bool:
        """Cap every span position at `cap` — the ONE sanctioned exception
        to watermark monotonicity, used at a table handoff between captures
        (move-table): positions above the move boundary were observations of
        the OLD capture's pipeline, which ended at the boundary; the new
        capture's puller starts scanning at StartTs = boundary
        (cdc/changefeed.go:546-552 — replicaInfo.StartTs = resolved ts) and
        must build its own view above it. Metadata-only, idempotent by
        epoch_id; retirement checkpoints are untouched."""
        if epoch_id in self.committed_epochs:
            return False
        wm = self._manifest.get("part_watermarks", {})
        capped = {
            k: int(cap) for k, v in wm.items() if int(v) > int(cap)
        }
        if not capped:
            return False
        m = json.loads(json.dumps(self._manifest))
        m.pop("commit_kind", None)
        m["parent"] = m["version"]
        m["version"] += 1
        m["epoch_id"] = epoch_id
        m["committed_epochs"].append(epoch_id)
        m["part_watermarks"].update({k: int(cap) for k in capped})
        self._commit_manifest(m)
        return True

    @property
    def syncpoints(self) -> list[dict]:
        """Ordered (epoch_id, primary_ts, version) consistency mappings."""
        return list(self._manifest.get("syncpoints", []))

    def version_at_ts(self, primary_ts: int) -> int | None:
        """Snapshot version holding the upstream state as of primary_ts —
        greatest syncpoint with primary_ts ≤ ts (the point-in-time read the
        reference's syncpoint table enables). Syncpoints whose snapshot has
        been expired (expire_versions) are skipped — their data files may be
        gone."""
        best = None
        for sp in self.syncpoints:
            if sp["primary_ts"] <= primary_ts and os.path.exists(
                os.path.join(self._mdir, f"v{sp['version']:08d}.json")
            ):
                best = sp["version"]
        return best

    def read_changes(self, since_version: int, to_version: int | None = None):
        """Incremental CHANGELOG scan (the Iceberg incremental-read analog):
        the change rows committed after `since_version`, reading ONLY the
        delta files those commits appended — never a full-table scan.

        Walks the manifest chain and classifies each bucket transition:
        APPEND (parent entries preserved, files added — MOR epoch deltas,
        bootstrap) contributes its new files as change rows; REWRITE
        (compact/rebucket/truncate) contributes nothing, exactly like
        Iceberg incremental scans skip replace snapshots. Emitted rows are
        each epoch's per-key LWW winners: (key, payload..., op 'U'|'D',
        commit_ts, seq) — a downstream pipeline can re-apply them with the
        same conditional merge.

        Scale shape: manifest diffing is O(buckets) driver metadata per
        version step; the data read is proportional to the CHANGE VOLUME in
        the range, which is the whole point."""
        to_version = self._manifest["version"] if to_version is None else to_version
        prev = self._load_version_manifest(since_version)
        added: list[dict] = []
        for v in range(since_version + 1, to_version + 1):
            cur = self._load_version_manifest(v)
            for b, entries in cur.get("buckets", {}).items():
                new_paths = {e["path"] for e in entries}
                old = prev.get("buckets", {}).get(b, [])
                if all(e["path"] in new_paths for e in old):
                    old_paths = {e["path"] for e in old}
                    added.extend(e for e in entries if e["path"] not in old_paths)
                # else: rewrite commit (compaction et al) -> no change rows
            prev = cur
        key = self.key_col
        payload = [f["name"] for f in self.current_fields if f["name"] != key]
        df = self._read_files(added)
        if df is None:
            return self.spark.createDataFrame(
                [], self.schema.add(SYS_COMMIT_TS, "long").add(SYS_SEQ, "long")
            ).select(
                F.col(key), F.lit("U").alias("op"),
                F.col(SYS_COMMIT_TS).alias("commit_ts"), F.col(SYS_SEQ).alias("seq"),
                *[F.col(c) for c in payload],
            ).limit(0)
        return df.select(
            F.col(key),
            F.when(F.col(SYS_DELETED), F.lit("D")).otherwise(F.lit("U")).alias("op"),
            F.col(SYS_COMMIT_TS).alias("commit_ts"),
            F.col(SYS_SEQ).alias("seq"),
            *[F.col(c) for c in payload],
        )

    def truncate(self, epoch_id: str | None = None) -> bool:
        """TRUNCATE TABLE: metadata-only commit dropping every bucket's file
        references (reference: truncate swaps in a fresh table id and the
        old rows vanish, cdc/entry/schema_storage.go:539-624 truncate case).
        Data files become unreferenced — physical GC is compact()'s job."""
        if epoch_id is not None and epoch_id in self.committed_epochs:
            return False
        m = json.loads(json.dumps(self._manifest))
        m["parent"] = m["version"]
        m["version"] += 1
        m["buckets"] = {}
        m["clean_buckets"] = []
        m["commit_kind"] = "truncate"  # lets changelog consumers detect the wipe
        m["epoch_id"] = epoch_id
        if epoch_id is not None:
            m["committed_epochs"].append(epoch_id)
        self._commit_manifest(m)
        return True

    # ---------------- maintenance ----------------
    def max_files_per_bucket(self) -> int:
        return max((len(v) for v in self._manifest["buckets"].values()), default=0)

    def maybe_compact(self, max_deltas: int = 32, purge_tombstones: bool = False) -> dict | None:
        """MOR hygiene: fold delta files for buckets whose chain exceeds
        max_deltas — keeps read-time collapse bounded. INCREMENTAL: only the
        offending buckets rewrite (at 10^5 buckets a full-table compaction
        would be a 10-TB job; folding the hot 1% is proportional to churn).
        Tombstone purge stays opt-in (safe only past the replay GC-safepoint,
        cdc/owner.go:752-795 analog)."""
        offenders = [
            int(b)
            for b, entries in self._manifest["buckets"].items()
            if len(entries) > max_deltas
        ]
        if not offenders:
            return None
        return self.compact(purge_tombstones=purge_tombstones, buckets=offenders)

    def expire_versions(self, keep_last: int = 2) -> dict:
        """Snapshot expiry (Iceberg expire_snapshots / the reference's GC
        safepoint, cdc/owner.go:752-795): drop manifest versions older than
        the last `keep_last`, delete data files referenced by NO kept
        version. Time travel to expired versions stops working — that's the
        point. CURRENT is never expired."""
        cur_v = self._manifest["version"]
        keep = set(range(max(0, cur_v - keep_last + 1), cur_v + 1))
        referenced: set[str] = set()
        all_versions = []
        for f in os.listdir(self._mdir):
            if f.startswith("v") and f.endswith(".json"):
                all_versions.append(int(f[1:-5]))
        for v in all_versions:
            if v not in keep:
                continue
            with open(os.path.join(self._mdir, f"v{v:08d}.json")) as fh:
                m = json.load(fh)
            for entries in m["buckets"].values():
                referenced.update(e["path"] for e in entries)
        removed_files = 0
        data_root = os.path.join(self.root, "data")
        for dirpath, _dirs, files in os.walk(data_root):
            for f in files:
                p = os.path.join(dirpath, f)
                rel = os.path.relpath(p, self.root)
                if f.endswith(".parquet") and rel not in referenced:
                    os.remove(p)
                    removed_files += 1
        removed_manifests = 0
        for v in all_versions:
            if v not in keep:
                os.remove(os.path.join(self._mdir, f"v{v:08d}.json"))
                removed_manifests += 1
        return {"removed_files": removed_files, "removed_manifests": removed_manifests}

    def rebucket(self, new_n_buckets: int, epoch_id: str | None = None) -> dict:
        """Partition evolution (Iceberg's spec-evolution analog for the
        bucket transform): rewrite the table under a new bucket count. At
        100 TB you start with O(10^3) buckets and grow to O(10^5) as data
        accumulates, keeping the per-bucket rewrite quantum ~constant. One
        full shuffle+rewrite job; idempotent by epoch_id."""
        if epoch_id is not None and epoch_id in self.committed_epochs:
            return {"committed": False, "reason": "epoch already committed"}
        df = self.read_raw()  # collapsed current state incl. tombstones
        saved = self._manifest
        m = json.loads(json.dumps(self._manifest))
        m.pop("commit_kind", None)  # kind describes THIS commit only
        m["n_buckets"] = new_n_buckets
        self._manifest = m  # _bucket_expr/_scan_written see the new count
        try:
            out = df.withColumn("_bucket", self._bucket_expr(self.bucket_col))
            new_version = m["version"] + 1
            abs_dir = os.path.join(self.root, f"data/v{new_version:08d}")
            from ..functions.partitioning import identity_repartition

            (
                identity_repartition(out, new_n_buckets, "_bucket")
                .sortWithinPartitions("_bucket", self.key_col)
                .write.mode("overwrite")
                .partitionBy("_bucket")
                .parquet(abs_dir)
            )
            new_entries = self._scan_written(abs_dir)
        except BaseException:
            self._manifest = saved  # crash-safe: CURRENT never moved
            raise
        m["parent"] = m["version"]
        m["version"] += 1
        m["buckets"] = new_entries
        m["clean_buckets"] = sorted(int(b) for b in new_entries)
        m["epoch_id"] = epoch_id
        if epoch_id is not None:
            m["committed_epochs"].append(epoch_id)
        self._commit_manifest(m)
        return {"committed": True, "n_buckets": new_n_buckets, "version": m["version"]}

    def compact(self, purge_tombstones: bool = True, buckets: list[int] | None = None) -> dict:
        """Rewrite buckets at the current schema version: merges small
        files, drops tombstones (safe once no replayable epoch can carry
        older events — the GC-safepoint analog, cdc/owner.go:752-795).
        buckets=None rewrites the whole table; a list rewrites only those
        buckets (incremental compaction — untouched buckets carry forward
        by reference, the Iceberg rewrite_data_files filter analog)."""
        df = self.read_raw(buckets)  # collapsed: folds the MOR deltas
        if purge_tombstones:
            df = df.filter(~F.col(SYS_DELETED))
        out = df.withColumn("_bucket", self._bucket_expr(self.bucket_col))
        new_version = self._manifest["version"] + 1
        abs_dir = os.path.join(self.root, f"data/v{new_version:08d}")
        from ..functions.partitioning import identity_repartition

        n_parts = self.n_buckets if buckets is None else max(1, min(len(buckets), 256))
        (
            identity_repartition(
                out, n_parts, "_bucket",
                domain=None if buckets is None else sorted(buckets),
            )
            .sortWithinPartitions("_bucket", self.key_col)
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(abs_dir)
        )
        new_entries = self._scan_written(abs_dir)
        m = json.loads(json.dumps(self._manifest))
        m.pop("commit_kind", None)  # kind describes THIS commit only
        m["parent"] = m["version"]
        m["version"] += 1
        clean = set(m.get("clean_buckets", []))
        if buckets is None:
            m["buckets"] = new_entries
            clean = {int(b) for b in m["buckets"]}
        else:
            for b in buckets:
                # a bucket whose rows were all tombstones writes no file
                m["buckets"][str(b)] = new_entries.get(str(b), [])
                clean.add(int(b))
        m["clean_buckets"] = sorted(clean)
        self._commit_manifest(m)
        return {"version": m["version"], "buckets": len(new_entries)}
