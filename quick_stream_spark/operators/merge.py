"""MERGE-semantics keyed table (reference O5/O6).

The reference executes user-supplied ``INSERT … ON CONFLICT (pk) DO
UPDATE`` (upsert.rs:271-303, example statement lib.rs:111) and a single
soft-delete statement (delete.rs:251-285, logs call it "data soft
deleter").  End-state contract (SURVEY.md §2 "Query semantics note"):
after any sequence of batches the table holds one row per key, carrying
the values of that key's winning record; soft-deleted keys keep their row
with ``row_active = false``.

This module implements those semantics on a **bucket-partitioned parquet
table** (Delta Lake is not available in this environment; the interface
is the same MERGE contract, so a Delta/Iceberg backend can be swapped in
behind ``KeyedTable`` unchanged).

Scale design (100 TB posture):
  - The table is hash-bucketed on the key columns into ``num_buckets``
    partition directories.  A merge touches only the buckets present in
    the incoming batch: we read *only* those partitions (partition
    pruning on the bucket column) and rewrite *only* those partitions
    (dynamic partition overwrite).  An incremental batch of B rows costs
    O(B + size-of-touched-buckets), never a full-table rewrite.
  - ``num_buckets`` should scale with table size (buckets of ~1 GB are a
    good target); at 100 TB use ~100k buckets so a micro-batch touches a
    small fraction.
  - The union+window merge shuffles once on the key columns.  Both sides
    are already bucketed by key hash, so with a Delta/Iceberg backend or
    bucketed catalog tables this becomes a co-located merge; on plain
    parquet AQE coalesces the shuffle.
  - No ``collect()`` of data — only the touched-bucket id list (bounded
    by ``num_buckets``, not by data volume) crosses to the driver.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

BUCKET_COL = "__qss_bucket"
# seed for the key-bloom sidecar hash (xxhash64); independent of the
# bucket hash so bloom bits and bucket routing never correlate
_KBLOOM_SEED = 0x51B0


def _kbloom_sidecar_path(data_file_path: str) -> str:
    """Sidecar path of a data file: ``.<basename>.kbloom`` in the same
    directory — the DOT prefix hides it from Spark's file listings
    (compute_commit_meta and any directory-grain read would otherwise
    try to parse it as parquet), while manifest reads are unaffected
    (they resolve explicit file paths)."""
    d, base = os.path.split(data_file_path)
    return os.path.join(d, f".{base}.kbloom")
_SRC = "__qss_src"
_RN = "__qss_rn"

# Ceiling for the Observation-based per-commit stats fast path (r15):
# each bucket contributes two global-aggregate expressions to the write
# job's CollectMetrics node, so enumerating stays cheap only while the
# bucket count is modest; a maybe_rebucket'ed huge table falls back to
# the bounded per-commit scan, which that scale amortizes anyway.
_OBS_STATS_MAX_BUCKETS = 256


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(hconf), p, jvm


def carry_forward_meta(prev, carried, replaced_buckets):
    """Carry per-bucket commit metadata (stats) forward into
    the next snapshot under the COVERAGE invariant: if any
    carried-forward bucket lacks an entry (pre-metadata manifest, or a
    partial dict), return ``None`` — publish no metadata rather than a
    subset readers would trust."""
    prev = prev or {}
    if any(b not in prev for b in carried):
        return None
    out = dict(prev)
    for b in replaced_buckets:
        out.pop(b, None)
    return out


def carry_forward_zones(prev, mapping, new_files):
    """File-grain twin of :func:`carry_forward_meta` for zone maps
    (path-keyed): keep the entry of every carried bucket's every file;
    entries for files that left the snapshot drop out naturally.  Same
    COVERAGE invariant — any carried file without bounds means publish
    no zones (readers scan instead of wrongly skipping)."""
    prev = prev or {}
    out = {}
    for b, files in mapping.items():
        if b in new_files:
            continue  # the fresh per-file compute covers these
        for path in files:
            if path not in prev:
                return None
            out[path] = prev[path]
    return out


def compute_commit_meta(
    spark,
    commit_dir: str,
    schema,
    bucket_col: str,
    soft_delete_col: str | None,
    zone_map_cols: Sequence[str],
    table_path: str | None = None,
):
    """Per-bucket ``[rows, active_rows]`` stats plus PER-FILE zone-map
    ``{col: [min, max]}`` bounds for a commit's freshly-written files,
    in ONE footer-weight aggregation whose result is bounded by the
    commit's file count, never data volume.  Shared by the inline
    manifest layout and ``LogStructuredBucketStore`` so both publish
    identical metadata.

    Returns ``(stats, zones)``: ``stats`` is ``None`` when the schema
    has no liveness column (honest scan fallback for ``count_fast``);
    ``zones`` maps each written file (path relative to ``table_path``,
    the manifest's own keys) to bounds for every tracked column present
    in the schema (values JSON-encoded by ``commitlog.zone_value``).
    Tracked columns of unsupported types raise — a mis-ordered encoding
    would turn conservative skipping into wrong answers."""
    from quick_stream_spark.operators.commitlog import ZONE_MAP_TYPES, zone_value

    names = schema.fieldNames()
    with_stats = soft_delete_col is not None and soft_delete_col in names
    zcols = [c for c in zone_map_cols if c in names and c != bucket_col]
    for f in schema.fields:
        if f.name in zcols and f.dataType.simpleString() not in ZONE_MAP_TYPES:
            raise ValueError(
                f"zone-map column {f.name!r} has unsupported type "
                f"{f.dataType.simpleString()}; supported: {ZONE_MAP_TYPES}"
            )
    # session-tz timestamps collect as NAIVE datetimes in the PYTHON
    # PROCESS'S local timezone (pyspark converts via libc, NOT via
    # spark.sql.session.timeZone) — persist them UTC-normalized so a
    # reader in a different timezone compares apples to apples
    # (ADVICE r9; timestamp_ntz is a true wall clock and stays naive)
    ts_cols = {
        f.name
        for f in schema.fields
        if f.name in zcols and f.dataType.simpleString() == "timestamp"
    }
    if not with_stats and not zcols:
        return None, {}
    aggs = [F.count(F.lit(1)).alias("__qss_rows")]
    if with_stats:
        # coalesce: an all-NULL liveness column sums to NULL and
        # int(None) would crash the commit mid-write
        aggs.append(
            F.coalesce(
                F.sum(F.col(soft_delete_col).cast("long")), F.lit(0)
            ).alias("__qss_active")
        )
    for i, c in enumerate(zcols):
        aggs.append(F.min(F.col(c)).alias(f"__qss_zmin_{i}"))
        aggs.append(F.max(F.col(c)).alias(f"__qss_zmax_{i}"))
    group = [F.col(bucket_col)]
    if zcols:
        group.append(F.input_file_name().alias("__qss_file"))
    counted = (
        spark.read.schema(schema)
        .parquet(commit_dir)
        .groupBy(*group)
        .agg(*aggs)
        .collect()
    )
    stats = {} if with_stats else None
    zones = {}
    base = os.path.abspath(table_path) if table_path else None
    for r in counted:
        b = int(r[bucket_col])
        if with_stats:
            prev = stats.get(b, [0, 0])
            stats[b] = [
                prev[0] + int(r["__qss_rows"]),
                prev[1] + int(r["__qss_active"]),
            ]
        if zcols:
            import datetime as _dt
            from urllib.parse import unquote, urlparse

            def _enc(c, v):
                if c in ts_cols and v is not None and v.tzinfo is None:
                    v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                return zone_value(v)

            fpath = unquote(urlparse(r["__qss_file"]).path)
            rel = os.path.relpath(fpath, base) if base else fpath
            zones[rel] = {
                c: [
                    _enc(c, r[f"__qss_zmin_{i}"]),
                    _enc(c, r[f"__qss_zmax_{i}"]),
                ]
                for i, c in enumerate(zcols)
            }
    return stats, zones


class KeyedTable:
    """A parquet-backed table with one row per key and MERGE semantics.

    Parameters
    ----------
    keys: primary-key columns (reference requires a single ``i64`` pkey,
        upsert.rs:32; we generalize to composite keys).
    version_col: the version timestamp (``modified_date``, upsert.rs:31).
    arrival_col / tie_break: deterministic tie-break for equal versions,
        see :mod:`quick_stream_spark.operators.dedup`.
    soft_delete_col: boolean liveness flag (the reference's target tables
        carry ``row_active``, lib.rs:111; FIXTURES.md A3).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str] = ("pkey",),
        version_col: str = "modified_date",
        arrival_col: str | None = None,
        tie_break: str = "first_arrival",
        num_buckets: int = 16,
        soft_delete_col: str = "row_active",
        commit_protocol: str = "direct",
        store=None,
        zone_map_cols: Sequence[str] | None = None,
        manifest_checkpoint_interval: int = 16,
        manifest_parquet_threshold: int = 50_000,
        key_bloom_bits: int = 0,
        key_bloom_hashes: int = 6,
    ) -> None:
        if commit_protocol not in ("direct", "manifest"):
            raise ValueError(
                f"commit_protocol must be 'direct' or 'manifest', got {commit_protocol!r}"
            )
        # pluggable physical storage (operators/backends.py BucketStore):
        # None = the inline bucket-partitioned parquet layout.  The
        # manifest commit protocol is part of the parquet layout, not of
        # the merge contract, so the two don't compose.
        if store is not None and commit_protocol != "direct":
            raise ValueError("a custom store implies commit_protocol='direct'")
        self._store = store
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.version_col = version_col
        self.arrival_col = arrival_col
        self.tie_break = tie_break
        self.num_buckets = int(num_buckets)
        self.soft_delete_col = soft_delete_col
        # A stats-publishing store must count the SAME liveness column
        # this table maintains — a silently different column would make
        # count_fast(active_only=True) return wrong counts.  Stores
        # default their column to None (= adopt ours here); an explicit
        # mismatch is a construction-time error, not a wrong answer.
        if store is not None and hasattr(store, "_soft_delete_col"):
            if store._soft_delete_col is None:
                store._soft_delete_col = soft_delete_col
            elif store._soft_delete_col != soft_delete_col:
                raise ValueError(
                    f"store counts soft-delete column "
                    f"{store._soft_delete_col!r} but this table maintains "
                    f"{soft_delete_col!r}; per-bucket active-row stats "
                    "would be computed on the wrong column"
                )
        # zone maps: PER-FILE min/max for these columns ride every
        # snapshot commit (the Delta add-file data-skipping stats
        # analog); read_range() opens only the files whose bounds
        # overlap the predicate.  The canonical 100 TB use-case is
        # zone_map_cols=(version_col,): an incremental consumer's
        # "rows modified since T" scan opens ONLY the files the
        # commits since T actually wrote, instead of the whole table.
        self.zone_map_cols = tuple(zone_map_cols) if zone_map_cols else ()
        if store is not None and hasattr(store, "_zone_map_cols"):
            if store._zone_map_cols is None:
                store._zone_map_cols = self.zone_map_cols
            elif tuple(store._zone_map_cols) != self.zone_map_cols:
                raise ValueError(
                    f"store tracks zone-map columns "
                    f"{tuple(store._zone_map_cols)!r} but this table asked "
                    f"for {self.zone_map_cols!r}"
                )
        # Bucketing-properties guard: bucket = hash(keys) % num_buckets
        # is BAKED INTO the physical layout, so reopening an existing
        # table with different keys or bucket count silently corrupts
        # (the merge prunes to the wrong buckets and a key gains a
        # second row — reproduced in tests/test_table_properties.py).
        # First write persists the properties next to the data; every
        # construction over an existing table validates against them.
        # A custom store owns its own layout and is exempt.
        self._props_written = False
        if store is None:
            self._check_table_properties()
        # "direct" = in-place dynamic partition overwrite (fast, but a
        # crash mid-write can mix old and new buckets); "manifest" =
        # append-only data files published by an atomic snapshot
        # manifest (see operators/commitlog.py) with time travel +
        # vacuum — the Delta-style crash-consistent mode.
        self.commit_protocol = commit_protocol
        if commit_protocol == "manifest":
            from quick_stream_spark.operators.commitlog import ManifestLog

            # segmented log: commits publish O(commit) delta documents;
            # every Nth version (and restore) is a full checkpoint —
            # see ManifestLog.  1 = a full document per commit.
            self._log = ManifestLog(
                spark,
                path,
                checkpoint_interval=manifest_checkpoint_interval,
                parquet_checkpoint_threshold=manifest_parquet_threshold,
            )
        else:
            self._log = None
        # Single-writer caches: a KeyedTable instance assumes it is the
        # only writer (the reference holds the same assumption — one
        # QuickStream owns its target table).  Existence flips to True
        # at the first write and the sidecar schema changes only through
        # this instance, so neither needs a per-batch filesystem
        # round-trip; a streaming merge otherwise pays 2 FS calls +
        # a sidecar read per micro-batch.
        self._exists_cache: bool | None = None
        self._schema_cache = None
        # per-merge Observation metrics (rows_written / rows_active),
        # refreshed by every upsert — the reference's cycle-count logs
        self.last_merge_stats: dict | None = None
        # Per-file KEY BLOOM FILTER sidecars (the Delta/Iceberg bloom-
        # index analog): zone maps prune point lookups only on SORTED
        # layouts; on an unsorted high-cardinality key a bucket's every
        # file (one per commit) must be opened.  With key_bloom_bits>0
        # each commit writes a `<data-file>.kbloom` sidecar holding an
        # m-bit bloom over the file's key tuples, and lookup() drops
        # candidate files whose bloom excludes every requested key —
        # false positives only (a kept file is re-filtered by the
        # residual semi-join), never false negatives.  The index rides
        # NEXT TO the data file (no manifest/checkpoint bloat — the
        # metadata log stays O(paths)), travels with carry-forward and
        # rebase by construction, and a missing/corrupt sidecar
        # degrades to an opened file, never a wrong answer.
        self.key_bloom_bits = int(key_bloom_bits)
        self.key_bloom_hashes = int(key_bloom_hashes)
        if self.key_bloom_bits:
            if self.key_bloom_bits < 64 or self.key_bloom_bits > (1 << 23):
                raise ValueError(
                    "key_bloom_bits must be in [64, 2^23] (8 B to 1 MB "
                    "per file); size at ~10 bits per expected row per file"
                )
            if not 1 <= self.key_bloom_hashes <= 16:
                raise ValueError("key_bloom_hashes must be in [1, 16]")
            if self._log is None:
                raise ValueError(
                    "key_bloom_bits requires commit_protocol='manifest' "
                    "(sidecars are written under the append-only commit "
                    "protocol, before each snapshot publishes)"
                )
            # round up to a whole number of bytes
            self.key_bloom_bits = (self.key_bloom_bits + 7) // 8 * 8
        self._kbloom_cache: dict[str, tuple | None] = {}
        self._kbloom_read_warned = False

    # ---------------------------------------------------------------- io

    def exists(self) -> bool:
        if self._exists_cache:
            return True
        if self._store is not None:
            found = self._store.exists()
        elif self._log is not None:
            found = self._log.latest_version() is not None
        else:
            fs, p, _ = _hadoop_fs(self.spark, self.path)
            found = fs.exists(p)
        if found:
            self._exists_cache = True
        return found

    def _bucket_expr(self):
        return F.pmod(F.xxhash64(*[F.col(k) for k in self.keys]), F.lit(self.num_buckets)).cast(
            "int"
        )

    def read(
        self,
        active_only: bool = False,
        with_bucket: bool = False,
        version: int | None = None,
    ) -> DataFrame:
        """Read the table.  The scan uses the sidecar schema (the
        current evolved schema) rather than footer inference: buckets
        untouched since a schema evolution still hold files without the
        added columns, and an explicit schema NULL-fills them on read —
        no mergeSchema footer sweep (which at 100 TB is a job in
        itself).

        ``version`` (manifest protocol only) reads a historical
        snapshot — time travel over retained manifests."""
        if self._log is not None:
            return self._read_manifest(
                active_only=active_only, with_bucket=with_bucket, version=version
            )
        if version is not None and not self._store_time_travel():
            raise ValueError(
                "version time travel requires commit_protocol='manifest' "
                "or a manifest-backed store"
            )
        schema = self._read_schema_sidecar()
        if self._store is not None:
            if version is not None:
                df = self._store.read_version(schema, version)
            else:
                df = self._store.read(schema)
            if active_only:
                df = df.filter(F.col(self.soft_delete_col))
            if not with_bucket:
                df = df.drop(BUCKET_COL)
            return df
        try:
            reader = self.spark.read
            if schema is not None:
                reader = reader.schema(schema)
            df = reader.parquet(self.path)
        except Exception:
            # a table whose every row was hard-deleted has no data files
            # left; fall back to the schema sidecar for an empty frame
            if schema is None:
                raise
            df = self.spark.createDataFrame([], schema)
        if active_only:
            df = df.filter(F.col(self.soft_delete_col))
        if not with_bucket:
            df = df.drop(BUCKET_COL)
        return df

    # --------------------------------------------- manifest protocol io

    def _data_schema(self):
        """Sidecar schema without the bucket column: manifest-mode data
        files don't store it (bucket = hash(keys) % N is recomputed on
        read, and the partition dir name only organizes the files)."""
        from pyspark.sql.types import StructType

        schema = self._read_schema_sidecar()
        if schema is None:
            return None
        return StructType([f for f in schema.fields if f.name != BUCKET_COL])

    def _read_manifest(
        self,
        active_only: bool = False,
        with_bucket: bool = False,
        version: int | None = None,
        bucket_ids: list[int] | None = None,
        mapping_override: dict[int, list[str]] | None = None,
    ) -> DataFrame:
        """``mapping_override``: a pre-pruned bucket->files mapping
        (zone-map file skipping) to scan instead of the snapshot's
        full list."""
        mapping = (
            mapping_override
            if mapping_override is not None
            else self._log.read(version)
        )
        if bucket_ids is not None:
            mapping = {b: fs for b, fs in mapping.items() if b in bucket_ids}
        files = self._log.resolve(mapping)
        schema = self._data_schema()
        if files:
            reader = self.spark.read
            if schema is not None:
                reader = reader.schema(schema)
            df = reader.parquet(*files)
        else:
            if schema is None:
                raise FileNotFoundError(f"KeyedTable at {self.path} has no snapshot")
            df = self.spark.createDataFrame([], schema)
        if active_only:
            df = df.filter(F.col(self.soft_delete_col))
        if with_bucket:
            df = df.withColumn(BUCKET_COL, self._bucket_expr())
        return df

    def _read_current_buckets(self, touched: list[int]) -> DataFrame:
        """Current rows of ONLY the touched buckets — the merge half's
        snapshot read.  On pointer-layout (parquet-checkpoint)
        snapshots the bucket->files mapping comes from a bucket-
        pushdown fetch (``bucket_mapping_distributed``: one filtered
        checkpoint aggregation + the O(chain) delta replay) instead of
        materializing the FULL snapshot mapping on the driver — which
        was the last O(files)-per-commit driver term on the write path
        (r13; the PUBLISH half has been bounded since r11: a steady-
        state commit paid ``_load_parquet_checkpoint`` — a full
        checkpoint read + toArrow — just to prune to its touched
        buckets).  Inline or cached snapshots return ``None`` from the
        pushdown and take the in-memory mapping, bounded by the
        parquet threshold by construction."""
        v = self._log.latest_version()
        sub = (
            self._log.bucket_mapping_distributed(touched, v)
            if v is not None
            else None
        )
        if sub is not None:
            return self._read_manifest(with_bucket=True, mapping_override=sub)
        return self._read_manifest(with_bucket=True, bucket_ids=touched)

    def _read_snapshot(self, version: int, bucket_ids: list[int]) -> DataFrame:
        """A historical snapshot restricted to ``bucket_ids``, WITHOUT
        the bucket column — the change-data read, routed to the inline
        manifest io or the store's versioned reader."""
        if self._log is not None:
            sub = self._log.bucket_mapping_distributed(bucket_ids, version)
            if sub is not None:  # bounded fetch on parquet checkpoints
                return self._read_manifest(
                    version=version, mapping_override=sub
                )
            return self._read_manifest(version=version, bucket_ids=bucket_ids)
        return self._store.read_version(
            self._read_schema_sidecar(), version, bucket_ids
        ).drop(BUCKET_COL)

    def _write_manifest_commit(
        self,
        df: DataFrame,
        replaced_buckets: list[int],
        options: dict | None = None,
        op: str = "write",
    ) -> None:
        """Append-only commit: write ``df`` (with its bucket column)
        under a fresh commit dir, then publish a new manifest carrying
        forward every bucket not in ``replaced_buckets``.  A replaced
        bucket with no rows in ``df`` simply has no files in the new
        snapshot — hard-delete emptying needs no directory surgery.

        Each commit also records per-bucket ``[rows, active_rows]`` in
        the manifest (the Delta add-file-stats analog).  When the table
        tracks NO zone-map columns and the bucket count is small enough
        to enumerate (r15, guide §2.4: remove whole passes), the stats
        ride an ``Observation`` attached to the WRITE job itself —
        per-bucket counts as 2x``num_buckets`` global aggregates
        collected by the executors during the write, zero extra jobs
        and zero re-reads of the fresh commit dir.  Otherwise (zone
        maps need per-FILE min/max, unknowable before files exist; or
        a rebucketed table with a huge bucket count) the previous
        footer-weight aggregation over ONLY the commit's new files
        runs as before.  Either way the artifact is
        ``num_buckets``-bounded — so ``count_fast`` answers COUNT(*)
        from pure metadata at any scale."""
        commit_dir = self._log.new_commit_dir()
        names = df.schema.fieldNames()
        zcols = [c for c in self.zone_map_cols if c in names and c != BUCKET_COL]
        obs = None
        if (
            self.soft_delete_col in names
            and not zcols
            and self.num_buckets <= _OBS_STATS_MAX_BUCKETS
        ):
            from pyspark.sql import Observation

            obs = Observation()
            aggs = []
            for b in range(self.num_buckets):
                hit = F.col(BUCKET_COL) == b
                aggs.append(F.count(F.when(hit, 1)).alias(f"r{b}"))
                aggs.append(
                    F.coalesce(
                        F.sum(
                            F.when(hit, F.col(self.soft_delete_col).cast("long"))
                        ),
                        F.lit(0),
                    ).alias(f"a{b}")
                )
            # defensive: a bucket value outside [0, num_buckets) (no
            # known writer produces one) falls back to the scan path
            # below rather than publishing stats that miss rows
            aggs.append(
                F.count(
                    F.when(
                        F.col(BUCKET_COL).isNull()
                        | (F.col(BUCKET_COL) < 0)
                        | (F.col(BUCKET_COL) >= self.num_buckets),
                        1,
                    )
                ).alias("oob")
            )
            df = df.observe(obs, *aggs)
        writer = df.write.mode("overwrite")
        for key, val in (options or {}).items():
            writer = writer.option(key, val)
        writer.partitionBy(BUCKET_COL).parquet(commit_dir)
        new_files = self._log.list_bucket_files(commit_dir)
        if self.key_bloom_bits and new_files:
            self._write_kbloom_sidecars(commit_dir, df.schema)
        # pin the base snapshot: the carried-forward entries and the
        # optimistic-concurrency conflict check must describe the SAME
        # version, or a writer publishing between the two reads would
        # make the re-point silently drop its files
        base_version = self._log.latest_version()
        # fresh per-commit metadata, bounded by the commit, never the
        # table (shared by both commit layouts below): from the write
        # job's Observation when armed, else one footer-weight
        # aggregation over the commit's files
        new_stats, new_zones = (None, {})
        if new_files:
            row = None
            if obs is not None:
                try:
                    row = dict(obs.get)
                except Exception:  # pragma: no cover - observation API
                    row = None
                if row is not None and int(row.get("oob") or 0) > 0:
                    row = None  # impossible bucket value: trust the scan
            if row is not None:
                new_stats = {}
                for b in range(self.num_buckets):
                    r = int(row[f"r{b}"] or 0)
                    if r:
                        new_stats[b] = [r, int(row[f"a{b}"] or 0)]
            else:
                new_stats, new_zones = compute_commit_meta(
                    self.spark,
                    commit_dir,
                    df.schema,
                    BUCKET_COL,
                    self.soft_delete_col,
                    self.zone_map_cols,
                    table_path=self.path,
                )
        self._write_schema_sidecar(df.schema)
        touched = set(replaced_buckets) | set(new_files)
        # bounded path first (pointer-layout / big tables): publishes a
        # delta (or a distributedly-built checkpoint at cadence) from
        # commit-LOCAL metadata only — the carried-forward mapping is
        # never materialized on the driver, so commit cost follows the
        # COMMIT, not the table (the r10 "commits carry the full
        # mapping driver-side" seam).  None = fast path doesn't apply
        # (inline/small layout, undeclared doc in a race window):
        # take the materialized path below, the semantics of record.
        if base_version is not None:
            v = self._log.commit_bounded(
                touched,
                new_files,
                new_stats,
                new_zones if self.zone_map_cols else None,
                base_version,
                op=op,
            )
            if v is not None:
                self._exists_cache = True
                return
        mapping = self._log.read(base_version) if base_version is not None else {}
        prev_stats = (
            self._log.read_stats(base_version) if base_version is not None else {}
        )  # {} = no snapshot, None = pre-stats
        prev_zones = (
            self._log.read_zones(base_version) if base_version is not None else {}
        )
        for b in replaced_buckets:
            mapping.pop(b, None)
        for b, fl in new_files.items():
            mapping[b] = fl
        carried = [b for b in mapping if b not in new_files]
        # COVERAGE is the invariant, not "a stats key existed": a
        # carried-forward bucket with no stats entry (pre-stats
        # manifest, or a partial dict an old engine published) would
        # make count_fast() silently sum a subset — commit without
        # stats (honest scan fallback) until every carried bucket is
        # covered (e.g. after a compaction replaces all buckets).
        # Zone maps hold the same invariant independently: a gap means
        # publish no zones (readers scan instead of skipping wrongly).
        stats = carry_forward_meta(prev_stats, carried, replaced_buckets)
        zones = (
            carry_forward_zones(prev_zones, mapping, new_files)
            if self.zone_map_cols
            else None
        )
        if new_files and (stats is not None or zones is not None):
            if stats is not None:
                stats.update(new_stats or {})
            if zones is not None:
                zones.update(new_zones)
        # declare the transaction: replaced or newly-written buckets are
        # "touched"; a lost publish race re-points the rest at the
        # winner's entries when disjoint, raises ConcurrentCommitError
        # when overlapping (commitlog.ManifestLog.commit)
        self._log.commit(
            mapping,
            stats=stats,
            touched=set(replaced_buckets) | set(new_files),
            base_version=base_version,
            zones=zones,
            op=op,
        )
        self._exists_cache = True

    # ------------------------------------------------- key bloom sidecars

    def _kbloom_hash_expr(self):
        """The 64-bit key-tuple hash both bloom sides share: computed
        JVM-side (``xxhash64``) at write AND at lookup, so no Python
        reimplementation of the hash exists to drift."""
        return F.xxhash64(*[F.col(c) for c in self.keys], F.lit(_KBLOOM_SEED))

    def _kbloom_pos_expr(self):
        """Column: array of ``key_bloom_hashes`` bit positions in
        ``[0, key_bloom_bits)`` via Kirsch-Mitzenmacher double hashing
        of the 64-bit key hash — h2 is forced into [1, m-1] so the k
        probes never degenerate to one position."""
        m, k = self.key_bloom_bits, self.key_bloom_hashes
        h = self._kbloom_hash_expr()
        h1 = F.pmod(h, F.lit(m))
        h2 = F.pmod(F.shiftrightunsigned(h, 17), F.lit(m - 1)) + F.lit(1)
        return F.array(*[F.pmod(h1 + F.lit(i) * h2, F.lit(m)) for i in range(k)])

    @staticmethod
    def _kbloom_positions_py(h: int, m: int, k: int) -> list[int]:
        """Python twin of :meth:`_kbloom_pos_expr` used only to PROBE a
        sidecar at lookup time (the hash itself still comes from the
        JVM): ``pmod`` == Python ``%`` for a positive modulus, and
        ``shiftrightunsigned`` == a logical shift of the 64-bit two's
        complement.  Parity is pinned by a test over random keys."""
        h1 = h % m
        h2 = ((h & 0xFFFFFFFFFFFFFFFF) >> 17) % (m - 1) + 1
        return [(h1 + i * h2) % m for i in range(k)]

    def _write_kbloom_sidecars(self, commit_dir: str, schema) -> None:
        """Build each commit file's bloom bitmap EXECUTOR-SIDE and write
        the sidecar FROM THE SAME TASK that packs it — the driver
        receives only (file, ok) acks (r12 verdict ask #2: the previous
        driver hop collected ``m/8`` packed bytes per commit file,
        ~10 GiB of driver traffic for a 10^4-file compaction at the
        documented max ``m=2^23``).  One job over ONLY the commit's
        files: positions fold into per-(file, 64-bit-chunk) words with
        a JVM-side ``bit_or`` (map-side combinable), an Arrow-batched
        per-file pandas aggregation scatters the words into the final
        little-endian bitmap — byte-for-byte the layout
        :meth:`_kbloom_positions_py` probes (bit ``p`` lives at byte
        ``p >> 3``, mask ``1 << (p & 7)``; parity pinned in
        tests/test_key_bloom.py) — and the task writes
        ``header + bitmap`` next to its data file (posix for
        ``file:``/bare paths, ``pyarrow.fs`` for any URI it can open).
        A task that CANNOT reach the table filesystem (driver-only FS
        handle, e.g. a py4j-reachable-only scheme) acks ``ok=False``
        with its bitmap riding along, and the driver writes exactly
        those through its own FS handle — the fallback traffic is
        bounded by the unreachable files only, never the whole commit
        (structural pin: tests/test_key_bloom.py spies the fallback).
        Write guarantees are unchanged from the driver path
        (``fs.create`` overwrite, no tmp+rename): a torn sidecar reads
        as corrupt -> ``None`` -> the file opens unconditionally.
        Sidecars land BEFORE the manifest publishes — a crash in
        between leaves orphan sidecars next to orphan data files,
        reclaimed together by vacuum; a published file missing its
        sidecar merely opens unconditionally."""
        import struct
        from urllib.parse import unquote, urlparse

        import numpy as np
        import pandas as pd

        m = self.key_bloom_bits
        nbytes = m // 8
        header = b"QSSKB1" + struct.pack(
            "<IH", self.key_bloom_bits, self.key_bloom_hashes
        )

        def _write_from_task(uri: str, payload: bytes) -> bool:
            u = urlparse(uri)
            try:
                if u.scheme in ("", "file"):
                    with open(
                        _kbloom_sidecar_path(unquote(u.path)), "wb"
                    ) as f:
                        f.write(payload)
                    return True
                import pyarrow.fs as pafs

                pfs, p = pafs.FileSystem.from_uri(uri)
                with pfs.open_output_stream(_kbloom_sidecar_path(p)) as f:
                    f.write(payload)
                return True
            except Exception:
                return False

        def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
            buf = np.zeros(((m + 63) // 64) * 8, dtype=np.uint8)
            ch = pdf["__qss_c"].to_numpy(dtype=np.int64)
            words = pdf["__qss_v"].to_numpy(dtype=np.int64).astype(np.uint64)
            for i in range(8):  # explicit little-endian byte scatter
                buf[ch * 8 + i] = (
                    (words >> np.uint64(8 * i)) & np.uint64(0xFF)
                ).astype(np.uint8)
            uri = pdf["__qss_f"].iloc[0]
            bm = buf[:nbytes].tobytes()
            ok = _write_from_task(uri, header + bm)
            return pd.DataFrame(
                {
                    "__qss_f": [uri],
                    "__qss_ok": [ok],
                    "__qss_bm": [None if ok else bm],
                }
            )

        acks = (
            self.spark.read.schema(schema)
            .parquet(commit_dir)
            .select(
                F.input_file_name().alias("__qss_f"),
                F.explode(self._kbloom_pos_expr()).alias("__qss_p"),
            )
            .groupBy(
                "__qss_f",
                F.shiftrightunsigned(F.col("__qss_p"), 6).alias("__qss_c"),
            )
            .agg(
                F.bit_or(
                    F.expr("shiftleft(1L, int(__qss_p % 64))")
                ).alias("__qss_v")
            )
            .groupBy("__qss_f")
            .applyInPandas(
                _pack, "__qss_f string, __qss_ok boolean, __qss_bm binary"
            )
            .collect()
        )
        for r in acks:
            if not r["__qss_ok"]:
                self._write_kbloom_sidecar_fallback(
                    r["__qss_f"], header + bytes(r["__qss_bm"])
                )

    def _write_kbloom_sidecar_fallback(self, uri: str, payload: bytes) -> None:
        """Driver-side sidecar write through the py4j Hadoop FS handle —
        reached only for commit files whose task could not write to the
        table filesystem itself (acked ``ok=False``)."""
        from urllib.parse import unquote, urlparse

        fs, _, jvm = _hadoop_fs(self.spark, self.path)
        fpath = unquote(urlparse(uri).path)
        out = fs.create(
            jvm.org.apache.hadoop.fs.Path(_kbloom_sidecar_path(fpath)), True
        )
        out.write(bytearray(payload))
        out.close()

    def _read_kbloom(self, abs_path: str) -> tuple | None:
        """``(m, k, bits)`` of one sidecar, or ``None`` (absent,
        foreign, or corrupt — the file opens unconditionally).
        Sidecars are immutable once their manifest publishes, so a
        small per-instance cache is sound.

        A sidecar that EXISTS but cannot be read (FS permissions, a
        py4j/classpath fault) also degrades to ``None`` — correct but
        quietly losing the skip rate the option was enabled for — so
        that case logs one warning per table instead of passing
        silently (ADVICE r11); plain absence stays signal-free (it is
        the documented contract for pre-bloom files)."""
        if abs_path in self._kbloom_cache:
            return self._kbloom_cache[abs_path]
        import struct

        out = None
        try:
            fs, p, jvm = _hadoop_fs(self.spark, _kbloom_sidecar_path(abs_path))
            if fs.exists(p):
                stream = fs.open(p)
                try:
                    data = bytes(
                        jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
                    )
                finally:
                    stream.close()
                if data[:6] == b"QSSKB1" and len(data) >= 12:
                    m, k = struct.unpack("<IH", data[6:12])
                    bits = data[12:]
                    if m >= 64 and 1 <= k <= 16 and len(bits) * 8 >= m:
                        out = (m, k, bits)
        except Exception as exc:  # pragma: no cover - unreadable sidecar
            out = None
            if not self._kbloom_read_warned:
                self._kbloom_read_warned = True
                import logging

                logging.getLogger(__name__).warning(
                    "key-bloom sidecar for %s exists but could not be "
                    "read (%s: %s); bloom pruning is disabled for "
                    "unreadable files on table %s — lookups stay "
                    "correct but lose file skipping",
                    abs_path,
                    type(exc).__name__,
                    exc,
                    self.path,
                )
        if len(self._kbloom_cache) > 4096:
            self._kbloom_cache.clear()
        self._kbloom_cache[abs_path] = out
        return out

    def _bloom_prune(
        self, mapping: dict[int, list[str]], key_hashes: Sequence[int]
    ) -> dict[int, list[str]]:
        """Drop candidate files whose bloom excludes EVERY requested
        key.  Per-file (m, k) come from each sidecar's own header, so
        filters written under older sizing options keep working.  False
        positives keep a file (the residual semi-join filters rows);
        absence of a sidecar keeps a file; no false negative is
        possible because every key tuple written to a file set its k
        bits in that file's sidecar."""
        out: dict[int, list[str]] = {}
        for b, files in mapping.items():
            kept = []
            for rel in files:
                kb = self._read_kbloom(os.path.join(self.path, rel))
                if kb is None:
                    kept.append(rel)
                    continue
                m, k, bits = kb
                for h in key_hashes:
                    if all(
                        bits[p >> 3] & (1 << (p & 7))
                        for p in self._kbloom_positions_py(int(h), m, k)
                    ):
                        kept.append(rel)
                        break
            if kept:
                out[b] = kept
        return out

    # ------------------------------------------------------ observability

    def _observe_merge(self, merged: DataFrame):
        """Attach zero-cost Observation metrics to the merge plan (the
        reference logs per-cycle upsert counts, upsert.rs:158-204):
        rows written and rows kept active, collected by the executors
        during the write itself — no extra job, no extra scan."""
        from pyspark.sql import Observation

        obs = Observation()
        merged = merged.observe(
            obs,
            F.count(F.lit(1)).alias("rows_written"),
            F.sum(F.col(self.soft_delete_col).cast("long")).alias("rows_active"),
        )
        return merged, obs

    def _record_merge_stats(self, obs) -> None:
        try:
            self.last_merge_stats = dict(obs.get)
        except Exception:  # pragma: no cover - observation API unavailable
            self.last_merge_stats = None

    def vacuum(self, keep_versions: int = 1) -> int:
        """Reclaim unreferenced data files (manifest protocol or a
        manifest-backed store)."""
        log = self._snapshot_log()
        if log is None:
            raise ValueError(
                "vacuum requires commit_protocol='manifest' or a "
                "manifest-backed store"
            )
        return log.vacuum(keep_versions)

    def erase(self, deletes: DataFrame) -> int:
        """Compliance erasure (GDPR right-to-be-forgotten flow): hard-
        delete the given keys, then drop every older snapshot and
        vacuum so NO retained manifest or data file still contains
        them.  This deliberately sacrifices time travel for the erased
        history — that is the point: ``restore``/``read(version=)``
        must not be able to resurrect an erased key.  Returns the
        number of data files reclaimed.  Under the ``direct`` protocol
        hard_delete already rewrites the touched buckets in place, so
        erase degenerates to hard_delete (returns 0)."""
        self.hard_delete(deletes)
        log = self._snapshot_log()
        if log is None:
            return 0
        return log.vacuum(keep_versions=1)

    def history(self) -> DataFrame:
        """Per-commit audit log, oldest first — the Delta DESCRIBE
        HISTORY analog, derived from the manifest DOCUMENTS alone
        (delta docs are O(commit), pointer docs one num_buckets-bounded
        stats read; no snapshot is resolved).  Columns: ``version``,
        ``op`` (upsert / soft_delete / hard_delete / compact /
        rebucket / restore / write; NULL for commits made through the
        raw ManifestLog API), ``committed_at`` (epoch seconds; NULL
        likewise), ``kind`` (delta / checkpoint / checkpoint_parquet),
        ``buckets_touched`` / ``files_added`` (delta commits),
        ``files_total`` (full documents), plus the Delta
        operationMetrics analog from the stats the documents already
        carry: ``num_rows_added`` (rows written into the commit's
        touched buckets), ``num_rows_removed`` (prior rows of the
        buckets it replaced) and ``rows_total`` — NULL wherever stats
        coverage is absent, never a guess.  Vacuumed versions drop
        out; the collapse retains the oldest kept commit's own op and
        timestamp."""
        log = self._snapshot_log()
        if log is None:
            raise ValueError(
                "history requires commit_protocol='manifest' or a "
                "manifest-backed store"
            )
        rows = [
            (
                r["version"],
                r["op"],
                r["committed_at"],
                r["kind"],
                r["buckets_touched"],
                r["files_added"],
                r["files_total"],
                r["num_rows_added"],
                r["num_rows_removed"],
                r["rows_total"],
            )
            for r in log.history()
        ]
        return self.spark.createDataFrame(
            rows,
            "version long, op string, committed_at long, kind string, "
            "buckets_touched long, files_added long, files_total long, "
            "num_rows_added long, num_rows_removed long, rows_total long",
        )

    def restore(self, version: int) -> int:
        """Roll the table back to an earlier snapshot (manifest protocol
        only) — the Delta RESTORE analog.  The old snapshot's
        bucket->files mapping is republished as a NEW commit, so the
        rollback is itself atomic, time travel still sees the undone
        states, and ``read_changes(bad, restored)`` shows exactly what
        the rollback changed.  Pure metadata: no data files are read,
        copied or deleted (the republished files are still protected
        from vacuum because the newest manifest references them).
        Returns the new snapshot version."""
        log = self._snapshot_log()
        if log is None:
            raise ValueError(
                "restore requires commit_protocol='manifest' or a "
                "manifest-backed store"
            )
        if hasattr(log, "restore_bounded"):
            # pointer-layout (big) tables: the restored checkpoint is
            # built distributedly from the target's own chain — the
            # snapshot never materializes on the driver (r11 verdict
            # ask #2); None = inline head, take the materialized path
            # below (bounded by the parquet threshold by construction)
            v = log.restore_bounded(version, op="restore")
            if v is not None:
                return v
        mapping = log.read(version)  # raises on unknown version
        return log.commit(
            mapping,
            stats=log.read_stats(version),
            zones=log.read_zones(version),
            op="restore",
        )

    def read_changes(self, from_version: int, to_version: int) -> DataFrame:
        """Change data feed between two snapshots (manifest protocol
        only) — the Delta-CDF analog: every row whose state differs
        between ``from_version`` and ``to_version``, tagged with
        ``_change_type`` (``insert`` / ``update_preimage`` /
        ``update_postimage`` / ``delete``) and ``_commit_version`` =
        ``to_version``.  Soft deletes surface as updates (they ARE
        row_active updates at the storage layer); ``delete`` means the
        key left the table (hard delete).

        Scale design: the manifests are diffed FIRST — a bucket whose
        file list is identical in both snapshots cannot contain a
        change, so only changed buckets are scanned (file-level
        pruning, no full-table read), then one full outer join on the
        key columns classifies each key.  Merges rewrite whole touched
        buckets, so a changed bucket's two file lists are disjoint and
        the scan opens exactly the changed buckets' files in each
        snapshot — O(delta) files, pinned by the files-opened
        assertion in tests/test_zone_maps.py and reported without
        scanning by :meth:`cdc_stats`.

        **Consumer catch-up decision path** (version-based vs
        value-based): use ``read_changes`` when you need row-level
        change TYPES (insert/update/delete with pre/post images —
        replication, audit, incremental view maintenance) and hold a
        last-applied VERSION; it costs the changed buckets in BOTH
        snapshots plus one key-join.  Use ``read_range(version_col,
        lo=T)`` when you only need the CURRENT state of rows modified
        since a TIMESTAMP (downstream re-processing, feature refresh);
        it costs only the overlapping files of the LATEST snapshot,
        with no join — cheaper, but deletes are invisible (a vanished
        row never appears) and intermediate overwritten states are
        skipped.  Rule of thumb: replicas hold versions and call
        read_changes; analytical consumers hold watermarks and call
        read_range."""
        log = self._snapshot_log()
        if log is None or (self._log is None and not self._store_time_travel()):
            raise ValueError(
                "read_changes requires commit_protocol='manifest' or a "
                "manifest-backed store"
            )
        map_from = log.read(from_version)
        map_to = log.read(to_version)
        changed = sorted(
            b
            for b in set(map_from) | set(map_to)
            if sorted(map_from.get(b, [])) != sorted(map_to.get(b, []))
        )
        cols = [f.name for f in self._data_schema().fields]
        value_cols = [c for c in cols if c not in self.keys]
        old = self._read_snapshot(from_version, changed)
        new = self._read_snapshot(to_version, changed)
        o = old.select(
            *[F.col(k).alias(f"__qss_ok_{i}") for i, k in enumerate(self.keys)],
            F.struct(*[F.col(c) for c in cols]).alias("__qss_old"),
        )
        n = new.select(
            *[F.col(k).alias(f"__qss_nk_{i}") for i, k in enumerate(self.keys)],
            F.struct(*[F.col(c) for c in cols]).alias("__qss_new"),
        )
        cond = None
        for i in range(len(self.keys)):
            eq = F.col(f"__qss_ok_{i}").eqNullSafe(F.col(f"__qss_nk_{i}"))
            cond = eq if cond is None else (cond & eq)
        joined = o.join(n, cond, "full_outer")
        is_insert = F.col("__qss_old").isNull()
        is_delete = F.col("__qss_new").isNull()
        differs = F.lit(False)
        for c in value_cols:
            differs = differs | ~F.col(f"__qss_old.{c}").eqNullSafe(
                F.col(f"__qss_new.{c}")
            )
        inserts = joined.filter(is_insert).select(
            F.col("__qss_new").alias("row"), F.lit("insert").alias("_change_type")
        )
        deletes = joined.filter(is_delete).select(
            F.col("__qss_old").alias("row"), F.lit("delete").alias("_change_type")
        )
        upd = joined.filter(~is_insert & ~is_delete & differs)
        pre = upd.select(
            F.col("__qss_old").alias("row"),
            F.lit("update_preimage").alias("_change_type"),
        )
        post = upd.select(
            F.col("__qss_new").alias("row"),
            F.lit("update_postimage").alias("_change_type"),
        )
        out = inserts.unionByName(deletes).unionByName(pre).unionByName(post)
        return out.select(
            *[F.col(f"row.{c}").alias(c) for c in cols],
            "_change_type",
            F.lit(to_version).cast("int").alias("_commit_version"),
        )

    def cdc_stats(self, from_version: int, to_version: int) -> dict:
        """Planning diagnostic for :meth:`read_changes` — how much a
        catch-up between two snapshots will open, from MANIFEST
        METADATA only (no scan): ``{buckets_changed, buckets_total,
        files_opened, files_total, opened_fraction}``.  ``files_*``
        count BOTH snapshots' legs (the full-outer change join reads
        each changed bucket in each version).  The version-based twin
        of :meth:`skipping_stats`; a consumer deciding between
        version-based and value-based catch-up (see
        :meth:`read_changes`) compares this against
        ``skipping_stats({version_col: (T, None)})``."""
        log = self._snapshot_log()
        if log is None:
            raise ValueError(
                "cdc_stats requires commit_protocol='manifest' or a "
                "manifest-backed store"
            )
        map_from = log.read(from_version)
        map_to = log.read(to_version)
        changed = {
            b
            for b in set(map_from) | set(map_to)
            if sorted(map_from.get(b, [])) != sorted(map_to.get(b, []))
        }
        total = sum(len(fl) for fl in map_from.values()) + sum(
            len(fl) for fl in map_to.values()
        )
        opened = sum(len(map_from.get(b, [])) for b in changed) + sum(
            len(map_to.get(b, [])) for b in changed
        )
        return {
            "buckets_changed": len(changed),
            "buckets_total": len(set(map_from) | set(map_to)),
            "files_opened": opened,
            "files_total": total,
            "opened_fraction": round(opened / total, 6) if total else 0.0,
        }

    def _snapshot_log(self):
        """The table's snapshot log: the inline manifest in manifest
        mode, or the one owned by a manifest-backed store (the logstore
        backend); None for the direct parquet layout."""
        return self._log or getattr(self._store, "_log", None)

    def _store_time_travel(self):
        """True when snapshot ops should route through the store's
        versioned reader instead of the inline manifest io."""
        return self._log is None and hasattr(self._store, "read_version")

    def snapshot_versions(self) -> list[int]:
        log = self._snapshot_log()
        if log is None:
            raise ValueError(
                "snapshots require commit_protocol='manifest' or a "
                "manifest-backed store"
            )
        return log.versions()

    def count_fast(self, active_only: bool = False, version: int | None = None) -> int:
        """COUNT(*) (or active-row count) answered from MANIFEST
        METADATA only — no data file is opened, no job runs (the Delta
        'aggregate pushdown to stats' analog).  Every commit publishes
        per-bucket row counts atomically with its snapshot, so the
        answer is exact for any retained ``version``.  Works in
        manifest mode AND on a manifest-backed custom store (the
        logstore backend publishes the same per-bucket stats).  Falls
        back to a real scan only for a manifest written before stats
        existed."""
        log = self._snapshot_log()
        if log is None:
            raise ValueError(
                "count_fast requires commit_protocol='manifest' or a "
                "manifest-backed store"
            )
        if version is None and log.latest_version() is None:
            # match read()'s behavior for a missing table instead of
            # reporting a nonexistent path as an empty (0-row) table
            raise FileNotFoundError(f"KeyedTable at {self.path} has no snapshot")
        stats = log.read_stats(version)
        if stats is None:  # pre-stats manifest: honest fallback
            df = self.read(active_only=active_only, version=version)
            return df.count()
        return sum(s[1] if active_only else s[0] for s in stats.values())

    # ------------------------------------------------- data skipping

    def _encode_bound(self, col, v):
        """Encode ONE query bound for comparison against committed zone
        bounds.  Timestamp columns route through UTC: persisted bounds
        are UTC-naive (``compute_commit_meta``), a tz-aware bound
        converts exactly, and a naive bound is interpreted as PROCESS-
        LOCAL time — the same assumption pyspark's ``F.lit``/``collect``
        conversion makes, so the zone compare and the residual filter
        always select the same instant (ADVICE r9: an offset-suffixed
        ISO string compared lexicographically against naive bounds
        could prune files whose rows satisfy the predicate).
        ``timestamp_ntz`` is a wall clock: naive passes through, aware
        input is a loud error instead of a silent wrong prune.

        TYPE-MISMATCHED temporal bounds (a plain ``date`` against a
        timestamp column, or a ``datetime`` against a date column)
        encode as None — no pruning on that column, the residual
        filter alone decides.  Their engine cast semantics (midnight
        in SESSION time) don't match either encoding's string order at
        day boundaries, so skipping on them could drop matching rows;
        conservatively keeping every file is exact by contract."""
        import datetime as _dt

        from quick_stream_spark.operators.commitlog import zone_value

        schema = self._read_schema_sidecar()
        kind = (
            schema[col].dataType.simpleString()
            if schema is not None and col in schema.fieldNames()
            else None
        )
        if isinstance(v, _dt.datetime):
            if kind == "date":
                return None  # mismatched bound: residual filter decides
            if kind == "timestamp_ntz":
                if v.tzinfo is not None:
                    raise ValueError(
                        f"column {col!r} is timestamp_ntz (a wall clock "
                        "with no timezone); a tz-aware bound has no "
                        "defined comparison against it"
                    )
                return v.isoformat(sep="T")
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return v.isoformat(sep="T")
        if isinstance(v, _dt.date) and kind is not None and kind != "date":
            return None  # date bound on a non-date column: no pruning
        return zone_value(v)

    def _pruned_mapping(
        self, ranges: dict, version: int | None = None
    ) -> dict[int, list[str]] | None:
        """The snapshot's bucket->files mapping with every file whose
        committed ``[min, max]`` bounds exclude ANY of the conjunctive
        ``{col: (lo, hi)}`` ranges removed (buckets left with no files
        drop out).  ``None`` when no zone maps are available (direct
        layout, a snapshot written without ``zone_map_cols``, or
        coverage lost) — callers must scan.  A file whose zone is
        missing a column, or whose bounds are NULL (all-NULL column
        there), is always kept — skipping is strictly conservative."""
        from quick_stream_spark.operators.commitlog import zone_overlaps

        log = self._snapshot_log()
        if log is None:
            return None
        enc = {
            c: (self._encode_bound(c, lo), self._encode_bound(c, hi))
            for c, (lo, hi) in ranges.items()
        }
        # Distributed fast path (r11): when the snapshot's checkpoint is
        # a PARQUET document (big tables, above the log's threshold),
        # plan the prune as a Spark filter over the checkpoint rows +
        # an O(deltas) driver replay — the driver never materializes
        # every file's bounds.  'unavailable' = inline-JSON checkpoint
        # (small/legacy tables): the in-memory walk below is faster
        # there and stays the reference semantics.
        v = version if version is not None else log.latest_version()
        if v is not None and hasattr(log, "pruned_mapping_distributed"):
            status, pm = log.pruned_mapping_distributed(enc, v)
            if status == "ok":
                return pm
            if status == "no_zones":
                return None
        # zero-copy view: this walk touches every file's bounds, so the
        # defensive copy read_zones() makes would dominate at scale
        mapping, _, zones = log.snapshot_view(version)
        if zones is None:
            return None
        out = {}
        for b, files in mapping.items():
            kept = [
                p
                for p in files
                if all(
                    zone_overlaps(zones.get(p, {}).get(c), elo, ehi)
                    for c, (elo, ehi) in enc.items()
                )
            ]
            if kept:
                out[b] = kept
        return out

    def pruned_buckets(
        self, col: str, lo=None, hi=None, version: int | None = None
    ) -> list[int] | None:
        """Bucket ids that MAY hold rows with ``lo <= col <= hi``
        according to the snapshot's per-file zone maps — the
        metadata-only planning half of :meth:`read_range`.  ``None``
        when no zone maps are available — callers must scan.  Bounds
        are given in the column's value domain (``datetime`` for
        timestamp columns)."""
        pm = self._pruned_mapping({col: (lo, hi)}, version=version)
        return None if pm is None else sorted(pm)

    def pruned_files(
        self, col: str, lo=None, hi=None, version: int | None = None
    ) -> list[str] | None:
        """Relative data-file paths surviving zone pruning — finer than
        :meth:`pruned_buckets`: a long-lived bucket holds one file per
        commit, and only the files whose bounds overlap survive."""
        pm = self._pruned_mapping({col: (lo, hi)}, version=version)
        if pm is None:
            return None
        return sorted(p for files in pm.values() for p in files)

    def read_range(
        self,
        col: str,
        lo=None,
        hi=None,
        active_only: bool = False,
        version: int | None = None,
    ) -> DataFrame:
        """Range scan with zone-map data skipping: rows satisfying
        ``lo <= col <= hi`` (either bound optional), opening ONLY the
        buckets whose committed min/max overlap the range.  The 100 TB
        use-case is incremental consumption — with
        ``zone_map_cols=(version_col,)``, "rows modified since T"
        reads just the data some commit touched since T instead of
        the whole table.  Pruning is FILE-grain (the manifest's own
        unit): inside a touched bucket only the commits' files whose
        bounds overlap are opened, so a long-lived bucket's old files
        are skipped too.  Falls back to a full scan when no zones are
        available; the residual filter is ALWAYS applied (zones are
        file-granular over-approximations), so the result equals
        ``read().filter(...)`` exactly on every layout."""
        return self.read_where(
            {col: (lo, hi)}, active_only=active_only, version=version
        )

    def read_where(
        self,
        ranges: dict,
        active_only: bool = False,
        version: int | None = None,
    ) -> DataFrame:
        """Conjunctive zone-pruned scan: ``{col: (lo, hi)}`` — rows
        satisfying EVERY range (each bound may be None = unbounded);
        a file survives pruning only when its bounds overlap every
        range.  Same exactness contract as :meth:`read_range`: the
        residual filters are always applied, so the result equals
        ``read().filter(...)`` on every layout."""
        pm = self._pruned_mapping(ranges, version=version)
        if pm is None:
            df = self.read(active_only=active_only, version=version)
        elif self._log is not None:
            df = self._read_manifest(
                active_only=active_only, version=version, mapping_override=pm
            )
        else:  # manifest-backed store
            df = self._store.read_mapping(
                self._read_schema_sidecar(), pm
            ).drop(BUCKET_COL)
            if active_only:
                df = df.filter(F.col(self.soft_delete_col))
        for col, (lo, hi) in ranges.items():
            if lo is not None:
                df = df.filter(F.col(col) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(col) <= F.lit(hi))
        return df

    def _decode_zone_bound(self, col: str, best):
        """Decode one committed zone bound back into the column's value
        domain (timestamps as ``datetime`` etc.) — shared by the
        driver-walk and distributed ``agg_fast`` paths."""
        field = next(
            f for f in self._read_schema_sidecar().fields if f.name == col
        )
        kind = field.dataType.simpleString()
        if kind == "timestamp":
            # persisted bounds are UTC-naive; a scan would return
            # process-local naive (pyspark converts via libc) — match
            # it exactly
            import datetime as _dt

            return (
                _dt.datetime.fromisoformat(best)
                .replace(tzinfo=_dt.timezone.utc)
                .astimezone()
                .replace(tzinfo=None)
            )
        if kind == "timestamp_ntz":
            from datetime import datetime as _dt

            return _dt.fromisoformat(best)
        if kind == "date":
            from datetime import date as _d

            return _d.fromisoformat(best)
        if kind == "boolean":
            return bool(best)
        return best

    def agg_fast(self, col: str, fn: str, version: int | None = None):
        """MIN/MAX of a zone-mapped column answered from MANIFEST
        METADATA only — no data file is opened (the Delta
        'aggregate pushdown to file stats' analog, the count twin of
        :meth:`count_fast`).  Exact because every file's committed
        bounds are its true min/max and the COVERAGE invariant
        guarantees every snapshot file carries them; falls back to a
        real scan when zones are unavailable.  Values return in the
        column's domain (timestamps as ``datetime``).  Counts soft-
        deleted rows like ``SELECT min(col) FROM read()`` would —
        liveness does not move physical bounds."""
        if fn not in ("min", "max"):
            raise ValueError(f"agg_fast supports 'min'/'max', got {fn!r}")
        log = self._snapshot_log()
        idx = 0 if fn == "min" else 1
        # Distributed fast path (r11): parquet-checkpointed snapshots
        # answer from a Spark aggregation over the checkpoint rows +
        # an O(deltas) driver merge — the driver never sweeps every
        # file's bounds.  'unavailable' = inline checkpoint (small
        # tables): the in-memory sweep below is faster there.
        v = version if version is not None else (
            log.latest_version() if log is not None else None
        )
        if (
            log is not None
            and v is not None
            and hasattr(log, "agg_bounds_distributed")
        ):
            st, mm = log.agg_bounds_distributed(col, v)
            if st == "ok":
                return self._decode_zone_bound(col, mm[idx])
            if st == "uncovered":
                row = self.read(version=version).agg(
                    (F.min(col) if fn == "min" else F.max(col)).alias("v")
                ).collect()[0]
                return row.v
        # zero-copy view (this sweep touches every file's bounds — the
        # r9 "agg_fast is O(total files) on the driver" hotspot; the
        # walk itself is inherent, the per-call copies are not)
        mapping, _, zones = (
            log.snapshot_view(version) if log is not None else ({}, {}, None)
        )
        if zones is not None:
            bounds = []
            covered = True
            for files in mapping.values():
                for p in files:
                    zone = zones.get(p, {}).get(col)
                    if zone is None or zone[idx] is None:
                        # a file without bounds for this column (schema
                        # evolution, all-NULL) — metadata can't answer
                        covered = False
                        break
                    bounds.append(zone[idx])
                if not covered:
                    break
            if covered and bounds:
                # non-finite float bounds encode as None (zone_value),
                # so this min/max never sees NaN — a column containing
                # NaN takes the scan fallback below, which returns
                # Spark's NaN-greatest answer (ADVICE r9: Python
                # min/max over NaN is order-dependent)
                best = min(bounds) if fn == "min" else max(bounds)
                return self._decode_zone_bound(col, best)
        # honest fallback: one aggregation scan
        row = self.read(version=version).agg(
            (F.min(col) if fn == "min" else F.max(col)).alias("v")
        ).collect()[0]
        return row.v

    def _key_pruned_mapping(
        self, key_rows, bucket_ids, version: int | None
    ) -> dict[int, list[str]] | None:
        """Zone pruning for point lookups: restrict the snapshot to
        ``bucket_ids``, then keep only files whose committed bounds
        admit SOME requested key.  The test is per-TUPLE and per-
        COMPONENT: a file survives when some requested key tuple fits
        EVERY zone-mapped key component's bounds — a rectangle test,
        which is exactly what a ``compact(method='zorder',
        sort_by=keys)`` layout produces (narrow per-file rectangles on
        both components), so composite lookups prune past the leading
        prefix (r10 pruned on ``keys[0]`` only).  Conservative-exact as
        always: a row with tuple (a, b) in a file implies a and b lie
        inside that file's per-column bounds, so the surviving set is a
        superset of the files holding any requested key, and the
        residual semi-join resolves the rest.  ``None`` when not
        applicable (no key component zone-mapped, no zones)."""
        if not any(k in self.zone_map_cols for k in self.keys):
            return None
        log = self._snapshot_log()
        if log is None:
            return None
        # Distributed fast path (r11): parquet-checkpointed snapshots
        # fetch ONLY the requested buckets' file lists + zone entries
        # via a bucket-pushdown filter over the checkpoint rows —
        # bounded by the lookup, never by table size.
        mapping = zones = None
        v = version if version is not None else log.latest_version()
        if v is not None and hasattr(log, "bucket_zones_distributed"):
            st, sub = log.bucket_zones_distributed(bucket_ids, v)
            if st == "no_zones":
                return None
            if st == "ok":
                mapping, zones = sub
        if zones is None:
            mapping, _, zones = log.snapshot_view(v)  # read-only
        if zones is None:
            return None
        # Encode each requested tuple's zone-mapped components once.  A
        # component that cannot be encoded (mixed-type keys, a tz-aware
        # datetime on a timestamp_ntz key -- ADVICE r10 -- or NULL /
        # non-finite values) encodes as None = prunes nothing; the
        # residual semi-join resolves it, so degradation is per-
        # COMPONENT, never a loud error and never a wrong skip.
        zmapped = [
            (i, k) for i, k in enumerate(self.keys)
            if k in self.zone_map_cols
        ]
        enc_rows = []
        for r in key_rows:
            row_enc = []
            for i, k in zmapped:
                try:
                    e = self._encode_bound(k, r[i])
                except (TypeError, ValueError):
                    e = None
                row_enc.append((k, e))
            enc_rows.append(row_enc)

        def file_hits(fzones):
            for row_enc in enc_rows:
                ok = True
                for k, e in row_enc:
                    if e is None:
                        continue
                    zone = fzones.get(k)
                    if zone is None or zone[0] is None or zone[1] is None:
                        continue  # no bounds: cannot skip on this one
                    try:
                        inside = zone[0] <= e <= zone[1]
                    except TypeError:
                        continue  # incomparable encodings: keep
                    if not inside:
                        ok = False
                        break
                if ok:
                    return True
            return False

        out = {}
        for b in bucket_ids:
            kept = [
                p
                for p in mapping.get(b, [])
                if file_hits(zones.get(p, {}))
            ]
            if kept:
                out[b] = kept
        return out

    def skipping_stats(
        self, ranges: dict, version: int | None = None
    ) -> dict:
        """Planning diagnostic for a conjunctive predicate: how much of
        the snapshot zone-map pruning would skip, without running the
        scan — ``{files_total, files_scanned, buckets_total,
        buckets_scanned, skipped_fraction}``.  ``skipped_fraction`` is
        0.0 when no zones are available (everything scans) — the
        operational signal that a table needs ``zone_map_cols`` or a
        clustered compaction."""
        log = self._snapshot_log()
        if log is None:
            raise ValueError(
                "skipping_stats requires commit_protocol='manifest' or "
                "a manifest-backed store"
            )
        totals = None
        v = version if version is not None else log.latest_version()
        if v is not None and hasattr(log, "snapshot_totals"):
            # parquet-checkpointed snapshots count from one aggregation
            # instead of materializing the mapping driver-side (r11)
            totals = log.snapshot_totals(v)
        if totals is not None:
            total, n_buckets = totals
            pm = self._pruned_mapping(ranges, version=version)
            if pm is None:
                scanned, b_scanned = total, n_buckets
            else:
                scanned = sum(len(fl) for fl in pm.values())
                b_scanned = len(pm)
        else:
            mapping, _, _ = log.snapshot_view(version)  # read-only view
            total = sum(len(fl) for fl in mapping.values())
            n_buckets = len(mapping)
            pm = self._pruned_mapping(ranges, version=version)
            if pm is None:
                pm = mapping
            scanned = sum(len(fl) for fl in pm.values())
            b_scanned = len(pm)
        return {
            "files_total": total,
            "files_scanned": scanned,
            "buckets_total": n_buckets,
            "buckets_scanned": b_scanned,
            "skipped_fraction": (
                round(1.0 - scanned / total, 6) if total else 0.0
            ),
        }

    def lookup_stats(
        self, key_values: Sequence, version: int | None = None
    ) -> dict:
        """Planning diagnostic for a point lookup — the ``lookup()``
        twin of :meth:`skipping_stats`: how many buckets/files the
        hash + zone + bloom pruning pipeline would open for these keys,
        without running the scan.  ``{buckets_total, buckets_scanned,
        files_in_buckets, files_scanned, skipped_fraction}`` where
        ``skipped_fraction`` is relative to the scanned buckets' files
        (the hash pruning already bounded the search to them) — the
        operational signal that an unsorted hot-lookup table needs
        ``key_bloom_bits`` or a clustered compaction."""
        log = self._snapshot_log()
        if log is None:
            raise ValueError(
                "lookup_stats requires commit_protocol='manifest' or "
                "a manifest-backed store"
            )
        # one listing: the plan and the totals describe the same snapshot
        v = version if version is not None else log.latest_version()
        pm, ids, _, _ = self._lookup_plan(key_values, v)
        totals = log.snapshot_totals(v) if hasattr(log, "snapshot_totals") else None
        if totals is not None:
            _, buckets_total = totals
            sub = (
                log.bucket_mapping_distributed(ids, v)
                if hasattr(log, "bucket_mapping_distributed")
                else None
            )
            if sub is None:
                full, _, _ = log.snapshot_view(v)
                sub = {b: full.get(b, []) for b in ids}
            cand = sum(len(fl) for fl in sub.values())
        else:
            full, _, _ = log.snapshot_view(v)
            buckets_total = len(full)
            cand = sum(len(full.get(b, [])) for b in ids)
        scanned = cand if pm is None else sum(len(fl) for fl in pm.values())
        return {
            "buckets_total": buckets_total,
            "buckets_scanned": len(ids),
            "files_in_buckets": cand,
            "files_scanned": scanned,
            "skipped_fraction": (
                round(1.0 - scanned / cand, 6) if cand else 0.0
            ),
        }

    def _lookup_plan(
        self, key_values: Sequence, version: int | None
    ) -> tuple:
        """Shared planning half of ``lookup()``/``lookup_stats()``:
        ``(pruned_mapping_or_None, bucket_ids, key_df, schema)``.
        ``version`` is the snapshot the caller already resolved (None
        only without a snapshot log or snapshot), so planning lists the
        manifest log no further.

        The key list is a ``LocalRelation``: an Arrow table typed by the
        table's key schema, each value first checked and converted by
        the same verifier and ``toInternal`` that ``createDataFrame``
        applies to Python rows (a wrong-typed key still raises
        ``TypeError``; a naive timestamp keeps its meaning).  Building
        it and collecting each key's bucket id AND bloom hash (computed
        JVM-side so it matches the sidecar writer's bit positions
        exactly) runs no Spark job.  Zone pruning and bloom pruning compose.  The schema and key
        DataFrame return to the caller so ``lookup()`` doesn't re-read
        the sidecar or rebuild the keys."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type
        from pyspark.sql.types import StructType, _make_type_verifier

        schema = self._read_schema_sidecar()
        if schema is None:
            raise FileNotFoundError(f"KeyedTable at {self.path} has no schema")
        key_schema = StructType([schema[k] for k in self.keys])
        rows = [
            tuple(v) if isinstance(v, (tuple, list)) else (v,)
            for v in key_values
        ]
        verify = _make_type_verifier(key_schema)
        for r in rows:
            verify(r)
        cols = [
            pa.array(
                [f.dataType.toInternal(r[i]) for r in rows],
                type=to_arrow_type(f.dataType),
            )
            for i, f in enumerate(key_schema.fields)
        ]
        kdf = self.spark.createDataFrame(
            pa.Table.from_arrays(cols, names=key_schema.names), key_schema
        )
        sel = kdf.select(
            self._bucket_expr().alias("__b"),
            self._kbloom_hash_expr().alias("__h"),
        ).collect()
        ids = sorted({r["__b"] for r in sel})
        key_hashes = sorted({int(r["__h"]) for r in sel})
        pm = self._key_pruned_mapping(rows, ids, version)
        if self.key_bloom_bits and self._log is not None:
            # bloom-prune the candidate files: compose with zone
            # pruning when available, else fetch just the requested
            # buckets' file lists (bounded by the lookup)
            if pm is None and version is not None:
                sub = self._log.bucket_mapping_distributed(ids, version)
                if sub is None:
                    full, _, _ = self._log.snapshot_view(version)
                    sub = {
                        b: list(full.get(b, []))
                        for b in ids
                        if full.get(b)
                    }
                pm = sub
            if pm is not None:
                pm = self._bloom_prune(pm, key_hashes)
        return pm, ids, kdf, schema

    def lookup(
        self,
        key_values: Sequence,
        active_only: bool = True,
        version: int | None = None,
    ) -> DataFrame:
        """Point reads: the current rows for the given keys, scanning
        ONLY their hash buckets — bucket = hash(keys) % N is the
        table's layout, so a lookup of k keys opens at most k buckets
        out of ``num_buckets`` on every layout (manifest file-list
        pruning, store versioned reads, or partition-dir pruning on
        the direct layout).  ``key_values``: scalars for single-key
        tables, or tuples in ``self.keys`` order.  Only the bounded
        key list and its bucket ids cross the driver — never data.
        The key list is a local relation (an Arrow table typed by the
        key schema), so planning runs no Spark job; on an inline
        manifest a lookup runs two, the key broadcast and the scan.
        The snapshot version is resolved once, so every planning step
        and the scan read the same snapshot.

        When key columns are zone-mapped, file-grain zone pruning
        COMPOSES with the hash pruning: inside each key's bucket only
        the files whose committed bounds admit SOME requested key are
        opened — after a clustered compaction (``compact(k,
        sort_by=key)``) a point lookup reads ~1/k of its bucket, and a
        COMPOSITE key on a ``compact(method='zorder', sort_by=keys)``
        layout prunes on EVERY zone-mapped component (per-file
        rectangles), not just the leading prefix.  With
        ``key_bloom_bits`` set, the per-file bloom sidecars prune the
        UNSORTED case too: inside the key's bucket, rolled files whose
        bloom excludes every requested key never open.  Conservative
        as always: files without bounds or sidecars stay."""
        log = self._snapshot_log()
        if version is None and log is not None:
            version = log.latest_version()
        pm, ids, kdf, schema = self._lookup_plan(key_values, version)
        if pm is not None and self._log is not None:
            df = self._read_manifest(
                active_only=active_only, version=version, mapping_override=pm
            )
        elif pm is not None:  # manifest-backed store
            df = self._store.read_mapping(schema, pm).drop(BUCKET_COL)
            if active_only:
                df = df.filter(F.col(self.soft_delete_col))
        elif self._log is not None:
            sub = (
                self._log.bucket_mapping_distributed(ids, version)
                if version is not None
                else None
            )
            if sub is not None:  # bounded fetch, no snapshot walk (r11)
                df = self._read_manifest(
                    active_only=active_only,
                    version=version,
                    mapping_override=sub,
                )
            else:
                df = self._read_manifest(
                    active_only=active_only, version=version, bucket_ids=ids
                )
        elif self._store_time_travel():
            df = self._store.read_version(
                schema, version, ids
            ).drop(BUCKET_COL)
            if active_only:
                df = df.filter(F.col(self.soft_delete_col))
        else:
            if version is not None:
                raise ValueError(
                    "version time travel requires commit_protocol="
                    "'manifest' or a manifest-backed store"
                )
            df = (
                self.read(active_only=active_only, with_bucket=True)
                .filter(F.col(BUCKET_COL).isin(ids))
                .drop(BUCKET_COL)
            )
        return df.join(F.broadcast(kdf), on=list(self.keys), how="left_semi")

    def _write(
        self,
        df: DataFrame,
        mode: str,
        repartition: bool = True,
        options: dict | None = None,
    ) -> None:
        """``repartition=False`` skips the bucket repartition: the merge
        path's window already hash-partitioned the data by key, and
        bucket = hash(key) % N, so every task's rows land in coherent
        buckets — re-shuffling the whole merged set again just to get
        one file per bucket is a second full shuffle for cosmetics.
        First writes keep it for a clean initial layout.

        Crash consistency (documented limitation): dynamic partition
        overwrite on plain parquet is NOT atomic across buckets — a
        crash mid-write can leave some touched buckets rewritten and
        others stale, with no rollback (and ``hard_delete``'s write +
        directory cleanup are two separate steps).  The reference has
        the same exposure per statement batch (no transaction around a
        cycle's statements).  The recovery story here is the streaming
        checkpoint: foreachBatch re-delivers the interrupted batch and
        the merge is idempotent under ``newer_wins``; for stronger
        guarantees swap the backend for Delta/Iceberg behind this same
        interface (their commit protocol makes the overwrite atomic)."""
        if self._store is not None:
            self._store.write(df, mode)
            self._exists_cache = True
            self._write_schema_sidecar(df.schema)
            return
        if repartition:
            df = df.repartition(F.col(BUCKET_COL))
        writer = df.write.mode(mode).option("partitionOverwriteMode", "dynamic")
        for key, val in (options or {}).items():
            writer = writer.option(key, val)
        writer.partitionBy(BUCKET_COL).parquet(self.path)
        self._exists_cache = True
        self._write_schema_sidecar(df.schema)

    # underscore-prefixed => invisible to Spark's file listing
    _SCHEMA_SIDECAR = "_qss_schema.json"
    _PROPS_SIDECAR = "_qss_table.json"

    def _read_table_properties(self) -> dict | None:
        import json as _json

        fs, _, jvm = _hadoop_fs(self.spark, self.path)
        p = jvm.org.apache.hadoop.fs.Path(os.path.join(self.path, self._PROPS_SIDECAR))
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()
        return _json.loads(data.decode("utf-8"))

    def _write_table_properties(self) -> None:
        import json as _json

        body = _json.dumps(
            {
                "keys": list(self.keys),
                "num_buckets": int(self.num_buckets),
                "zone_map_cols": list(self.zone_map_cols),
            }
        ).encode("utf-8")
        fs, _, jvm = _hadoop_fs(self.spark, self.path)
        fs.mkdirs(jvm.org.apache.hadoop.fs.Path(self.path))
        p = jvm.org.apache.hadoop.fs.Path(os.path.join(self.path, self._PROPS_SIDECAR))
        out = fs.create(p, True)
        out.write(bytearray(body))
        out.close()

    def _check_table_properties(self) -> None:
        props = self._read_table_properties()
        if props is None:
            return  # fresh table (or pre-props layout): first write records
        self._props_written = True
        if list(props.get("keys", [])) != self.keys or int(
            props.get("num_buckets", self.num_buckets)
        ) != self.num_buckets:
            raise ValueError(
                f"KeyedTable at {self.path} was written with "
                f"keys={props.get('keys')} num_buckets={props.get('num_buckets')} "
                f"but was opened with keys={self.keys} "
                f"num_buckets={self.num_buckets}; bucket assignment is baked "
                "into the layout, so merging under different bucketing "
                "corrupts the table — reopen with the recorded properties, "
                "or resize explicitly with rebucket()"
            )
        # zone_map_cols is PERSISTED and adopted-or-validated on open
        # (ADVICE r9, mirroring the LogStructuredBucketStore contract):
        # a second handle opened without it would otherwise publish its
        # next commit with zones=None, silently dropping data-skipping
        # coverage table-wide.
        recorded = props.get("zone_map_cols")
        if recorded is None:
            # pre-r10 sidecar: refresh it at the next write
            if self.zone_map_cols:
                self._props_written = False
        elif not self.zone_map_cols:
            self.zone_map_cols = tuple(recorded)  # adopt the table's
        elif tuple(recorded) != self.zone_map_cols:
            if recorded:
                raise ValueError(
                    f"KeyedTable at {self.path} tracks zone-map columns "
                    f"{tuple(recorded)!r} but was opened with "
                    f"{self.zone_map_cols!r}; differently-keyed zone "
                    "publishes would silently drop data-skipping "
                    "coverage — reopen without zone_map_cols to adopt "
                    "the recorded ones"
                )
            # recorded empty, constructed non-empty: ENABLING zones on
            # an existing table is safe (the coverage invariant
            # publishes no zones until a full rewrite covers every
            # file) — record the new setting at the next write
            self._props_written = False

    def rebucket(self, new_num_buckets: int) -> None:
        """Change the table's bucket count — the sanctioned resize for a
        growing table (bucket counts should track volume, ~1 GB/bucket).
        One full rewrite under the new ``hash(keys) % N`` assignment
        (same maintenance class as :meth:`compact`); under the manifest
        protocol the switch is a single atomic snapshot.  Properties
        sidecar is updated so subsequent opens validate against the new
        count."""
        self._require_parquet_layout("rebucket")
        new_n = int(new_num_buckets)
        if new_n < 1:
            raise ValueError("new_num_buckets must be >= 1")
        if not self.exists():
            self.num_buckets = new_n
            return
        old_n = self.num_buckets
        current = self.read()
        self.num_buckets = new_n
        df = current.withColumn(BUCKET_COL, self._bucket_expr()).repartition(
            F.col(BUCKET_COL)
        )
        if self._log is not None:
            # every old bucket is replaced; the new snapshot holds only
            # the new assignment (atomic: readers see old or new, never
            # a mix)
            self._write_manifest_commit(df, list(self._log.read().keys()), op="rebucket")
        else:
            df = df.persist()
            try:
                # dynamic overwrite replaces only buckets PRESENT in the
                # output: an old dir whose id receives no rows under the
                # new assignment would silently keep its stale copies
                # (shrink tail dirs always; grow dirs whenever the
                # hash happens to skip an id) — drop every old dir the
                # write didn't replace
                kept = {
                    int(r[0]) for r in df.select(BUCKET_COL).distinct().collect()
                }
                self._write(df, "overwrite", repartition=False)
                self._drop_bucket_dirs(
                    [b for b in range(old_n) if b not in kept]
                )
            finally:
                df.unpersist()
        self._write_table_properties()

    def _write_schema_sidecar(self, schema) -> None:
        if self._schema_cache is not None and self._schema_cache.json() == schema.json():
            return  # unchanged since we last wrote it — skip the FS round-trip
        if self._store is not None:
            self._store.write_schema(schema)
            self._schema_cache = schema
            return
        fs, _, jvm = _hadoop_fs(self.spark, self.path)
        p = jvm.org.apache.hadoop.fs.Path(os.path.join(self.path, self._SCHEMA_SIDECAR))
        out = fs.create(p, True)
        out.write(bytearray(schema.json().encode("utf-8")))
        out.close()
        self._schema_cache = schema
        if not self._props_written:
            self._write_table_properties()
            self._props_written = True

    def _read_schema_sidecar(self):
        from pyspark.sql.types import StructType

        if self._schema_cache is not None:
            return self._schema_cache
        if self._store is not None:
            self._schema_cache = self._store.read_schema()
            return self._schema_cache
        fs, _, jvm = _hadoop_fs(self.spark, self.path)
        p = jvm.org.apache.hadoop.fs.Path(os.path.join(self.path, self._SCHEMA_SIDECAR))
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            data = bytes(
                jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()
        schema = StructType.fromJson(__import__("json").loads(data.decode("utf-8")))
        self._schema_cache = schema
        return schema

    def _drop_bucket_dirs(self, bucket_ids: list[int]) -> None:
        """Remove partition directories that became empty (dynamic
        overwrite only replaces partitions present in the written data)."""
        if self._store is not None:
            self._store.drop_buckets(bucket_ids)
            return
        fs, _, jvm = _hadoop_fs(self.spark, self.path)
        for b in bucket_ids:
            p = jvm.org.apache.hadoop.fs.Path(os.path.join(self.path, f"{BUCKET_COL}={b}"))
            if fs.exists(p):
                fs.delete(p, True)

    # ------------------------------------------------------------- dedup

    def _dedup(self, df: DataFrame) -> DataFrame:
        from quick_stream_spark.operators.dedup import latest_per_key

        return latest_per_key(
            df,
            keys=self.keys,
            version_col=self.version_col,
            arrival_col=self.arrival_col,
            tie_break=self.tie_break,
        )

    def _prepare_updates(
        self,
        updates: DataFrame,
        dedup: bool = True,
        allow_missing_columns: bool = False,
    ) -> DataFrame:
        """Bucket (and by default dedup) an incoming batch.  The upsert
        path passes ``dedup=False``: its merge window already totally
        orders (source, version, arrival), so folding the LWW dedup into
        the merge saves one full shuffle of the batch."""
        self._check_schema(updates, allow_missing_columns)
        if self.soft_delete_col not in updates.columns:
            updates = updates.withColumn(self.soft_delete_col, F.lit(True))
        if dedup:
            updates = self._dedup(updates)
        return updates.withColumn(BUCKET_COL, self._bucket_expr())


    def _check_schema(self, updates: DataFrame, allow_missing_columns: bool = False) -> None:
        """Fail fast with a readable error when a batch is missing table
        columns (instead of an internal-column AnalysisException from
        deep inside the merge plan).  ``allow_missing_columns=True``
        waives this: missing columns are treated as the reference's
        ``Option<>`` nullable fields (multi_table_upsert.rs:587-588)
        and NULL-filled by the merge union."""
        if allow_missing_columns:
            return
        expected = self._read_schema_sidecar() if self.exists() else None
        if expected is None:
            return
        internal = {BUCKET_COL, _SRC, _RN}
        table_cols = [f.name for f in expected.fields if f.name not in internal]
        missing = [
            c for c in table_cols if c != self.soft_delete_col and c not in updates.columns
        ]
        if missing:
            raise ValueError(
                f"update batch is missing table columns {missing}; "
                f"table {self.path} has columns {table_cols}"
            )

    def _touched(self, updates_b: DataFrame) -> list[int]:
        # bounded by num_buckets, never by data volume
        return [r[0] for r in updates_b.select(BUCKET_COL).distinct().collect()]

    def _current_in(self, bucket_ids: list[int]) -> DataFrame:
        # partition-pruned scan: only the touched bucket directories are read
        return self.read(with_bucket=True).filter(F.col(BUCKET_COL).isin(bucket_ids))

    def _pruned_current(self, updates_b: DataFrame) -> DataFrame:
        """Current rows in the batch's touched buckets, pruned by
        **dynamic partition pruning**: the semi-join against the
        broadcast of the batch's distinct buckets becomes a
        ``dynamicpruningexpression`` partition filter on the scan
        (verified by tests/test_merge.py), so only touched bucket
        directories are read — with no driver round-trip and no separate
        job, unlike the collect-then-isin variant (kept for hard_delete,
        which needs the literal id list to clean emptied dirs)."""
        return self.read(with_bucket=True).join(
            F.broadcast(updates_b.select(BUCKET_COL).distinct()), BUCKET_COL, "left_semi"
        )

    def _merge_window(self, newer_wins: bool) -> Window:
        """Total order picking the surviving row per key across
        current ∪ updates.  Includes the intra-batch LWW order
        (version desc + arrival tie-break), so updates need no separate
        dedup pass — one shuffle does both."""
        from quick_stream_spark.operators.dedup import _order_cols

        lww = _order_cols(self.version_col, self.arrival_col, self.tie_break)
        if newer_wins:
            # guard: updates apply only if newer.  The arrival tie-break
            # sorts AHEAD of the batch marker so equal-version ties
            # resolve by arrival order, not by which batch merged first —
            # making the end state independent of delivery order even
            # when the same (key, version) spans delivery files (file-
            # source ordering for same-mtime files is unspecified).
            # _SRC remains the final tie-break for the no-arrival-col
            # case, where current-wins is the documented behavior.
            order = [F.col(self.version_col).desc_nulls_last(), *lww[1:], F.col(_SRC).asc()]
        else:
            # faithful ON CONFLICT DO UPDATE: the incoming batch always wins
            order = [F.col(_SRC).desc(), *lww]
        return Window.partitionBy(*[F.col(k) for k in self.keys]).orderBy(*order)

    # -------------------------------------------------------------- merge

    def upsert(
        self,
        updates: DataFrame,
        newer_wins: bool = False,
        allow_missing_columns: bool = False,
        pre_reduce: bool = False,
    ) -> None:
        """MERGE the batch in: insert new keys, update existing ones.

        ``newer_wins=False`` (default) reproduces the reference's
        unconditional ``DO UPDATE`` — the last processed batch wins even
        if it carries an older ``modified_date`` (SURVEY.md §7 risk list).
        ``newer_wins=True`` adds the idempotency guard
        ``updates.version > target.version``.

        ``pre_reduce=True`` is the HOT-KEY skew guard: the batch is
        collapsed to one row per key with a ``max_by`` aggregation
        BEFORE the merge window.  Partial aggregation runs map-side, so
        a viral key with millions of batch updates reduces inside each
        input task instead of landing on one window reducer; the merge
        window then sees at most (1 batch row + current rows) per key.
        End state is identical by construction — the aggregation uses
        the same (version, arrival) total order the merge window folds
        in (pinned by test) — at the cost of one extra aggregation
        exchange, so leave it off for well-distributed batches.
        Measured on a 2M-row batch with 95% of rows on one key
        (local[32]): 4.4s plain vs 2.6s pre-reduced; the gap widens
        with executor count since the plain window serializes the hot
        key on one core.  Requires a numeric ``arrival_col`` (the
        order key negates it).

        Schema evolution: a batch carrying NEW columns evolves the table
        — existing rows read back NULL for them (the reference's
        ``Option<>`` nullable fields, multi_table_upsert.rs:587-588);
        only the touched buckets are rewritten, untouched buckets are
        NULL-filled at read time via the sidecar schema.  A batch
        MISSING table columns fails fast unless
        ``allow_missing_columns=True``, which NULL-fills them instead.
        """
        if pre_reduce:
            from quick_stream_spark.operators.dedup import latest_per_key_agg

            updates = latest_per_key_agg(
                updates,
                keys=self.keys,
                version_col=self.version_col,
                arrival_col=self.arrival_col,
                tie_break=self.tie_break,
            )
        up = self._prepare_updates(
            updates, dedup=False, allow_missing_columns=allow_missing_columns
        )
        if not self.exists():
            first, obs = self._observe_merge(self._dedup(up))
            if self._log is not None:
                self._write_manifest_commit(first, [], op="upsert")
            else:
                self._write(first, "overwrite")
            self._record_merge_stats(obs)
            return
        # one materialization serves both the bucket broadcast (the DPP
        # subquery) and the merge's union side; an empty batch writes
        # zero partitions (dynamic overwrite touches nothing) so no
        # separate emptiness probe is needed
        up = up.persist()
        try:
            if self._log is not None:
                # manifest pruning happens at FILE level from the
                # snapshot mapping (the manifest twin of partition
                # pruning), so the touched-bucket list is collected
                # explicitly — bounded by num_buckets
                touched = self._touched(up)
                current = self._read_current_buckets(touched)
            else:
                current = self._pruned_current(up)
            merged = (
                current
                .withColumn(_SRC, F.lit(0))
                .unionByName(up.withColumn(_SRC, F.lit(1)), allowMissingColumns=True)
                .withColumn(_RN, F.row_number().over(self._merge_window(newer_wins)))
                .filter(F.col(_RN) == 1)
                .drop(_RN, _SRC)
            )
            merged, obs = self._observe_merge(merged)
            if self._log is not None:
                self._write_manifest_commit(merged, touched, op="upsert")
            else:
                self._write(merged, "overwrite", repartition=False)
            self._record_merge_stats(obs)
        finally:
            up.unpersist()

    def _require_parquet_layout(self, op: str) -> None:
        """Layout-maintenance ops (compact/file_count) manage the
        inline bucket-partitioned parquet directory; a custom
        ``BucketStore`` owns its own physical layout, so these ops
        have nothing to act on — fail with a contract error instead
        of an opaque JVM path error on the never-created self.path."""
        if self._store is not None:
            raise ValueError(
                f"{op}() is a parquet-layout maintenance op and does not "
                "apply to a KeyedTable with a custom store= backend; "
                "physical layout (file counts, compaction) is the "
                "BucketStore implementation's responsibility"
            )

    def total_bytes(self) -> int:
        """On-disk bytes of the table's live data files (manifest mode:
        only files referenced by the current snapshot).  Metadata-only:
        one FS listing (or manifest resolve + getFileStatus)."""
        self._require_parquet_layout("total_bytes")
        if not self.exists():
            return 0
        fs, root, jvm = _hadoop_fs(self.spark, self.path)
        total = 0
        if self._log is not None:
            # pointer layout: one executor stat job (O(1) driver);
            # None = inline head (walk bounded by the threshold) or a
            # py4j-only filesystem — fall back to the driver loop
            dist = self._log.snapshot_bytes()
            if dist is not None:
                return dist
            for f in self._log.resolve(self._log.read()):
                total += fs.getFileStatus(
                    jvm.org.apache.hadoop.fs.Path(f)
                ).getLen()
            return total
        for status in fs.listStatus(root):
            name = status.getPath().getName()
            if not status.isDirectory() or not name.startswith(BUCKET_COL):
                continue
            for f in fs.listStatus(status.getPath()):
                if f.getPath().getName().endswith(".parquet"):
                    total += f.getLen()
        return total

    def maybe_rebucket(
        self,
        target_bucket_bytes: int = 1 << 30,
        max_num_buckets: int = 1 << 20,
    ) -> bool:
        """Auto-resize policy — the mechanism behind "bucket count
        scales with table size (~1 GB/bucket)": when the average live
        bucket exceeds ``target_bucket_bytes``, grow the bucket count
        to the next power-of-two multiple that brings it back under
        target, via one :meth:`rebucket` rewrite.  The check is
        metadata-only; call it from the same maintenance cadence as
        :meth:`maybe_compact`.  Returns whether a resize ran."""
        self._require_parquet_layout("maybe_rebucket")
        if not self.exists():
            return False
        total = self.total_bytes()
        if total <= target_bucket_bytes * self.num_buckets:
            return False
        n = self.num_buckets
        while total > target_bucket_bytes * n and n < max_num_buckets:
            n *= 2
        self.rebucket(n)
        return True

    def _zorder_expr(self, df: DataFrame, cols: Sequence[str], bits: int = 4):
        """Row-local Morton code over RANGE-RANK buckets of ``cols`` —
        the layout key for ``compact(method='zorder')`` (the Delta
        OPTIMIZE ZORDER BY analog; the rank-vs-raw-bits rationale is
        measured in plans/warehouse.py ``maintenance_zorder_stats``:
        raw-value interleaving degrades to a one-column sort whenever
        effective bit widths differ).  Rank-bucket boundaries come from
        ONE ``approxQuantile`` action over ALL columns — a single pass
        of the data regardless of dimension count, ``2^bits - 1``
        doubles per column crossing the driver (ADVICE r10: a per-
        column loop cost N full passes); the code itself is a whole-
        stage-codegen bit expression — no UDF, no extra shuffle.  Rank
        APPROXIMATION cannot affect correctness: zone bounds are always
        the files' true min/max and the residual filter still applies —
        a bad rank only costs skipping sharpness."""
        dtypes = dict(df.dtypes)
        supported = ("tinyint", "smallint", "int", "bigint", "float",
                     "double", "timestamp", "timestamp_ntz", "date",
                     "boolean")

        def num(c):
            t = dtypes[c]
            if t not in supported:
                raise ValueError(
                    f"zorder column {c!r} has type {t}; rank bucketing "
                    f"needs an orderable numeric/temporal type {supported}"
                )
            col = F.col(c)
            if t == "date":
                col = col.cast("timestamp")
            return col.cast("double")

        n = len(cols)
        probs = [i / (1 << bits) for i in range(1, 1 << bits)]
        ranks = []
        stats_df = df.select(*[num(c).alias(f"__qss_n{i}") for i, c in enumerate(cols)])
        all_cuts = stats_df.approxQuantile(
            [f"__qss_n{i}" for i in range(n)], probs, 0.01
        )
        for i, c in enumerate(cols):
            cuts = sorted(set(all_cuts[i]))
            if not cuts:
                ranks.append(F.lit(0))
                continue
            rank = F.when(num(c) <= F.lit(cuts[0]), 0)
            for j in range(1, len(cuts)):
                rank = rank.when(num(c) <= F.lit(cuts[j]), j)
            ranks.append(rank.otherwise(len(cuts)))  # NULL/NaN: top bucket
        z = F.lit(0)
        for bit in range(bits):
            for d, r in enumerate(ranks):
                z = z.bitwiseOR(
                    F.shiftleft(
                        F.shiftright(r, bit).bitwiseAND(F.lit(1)),
                        bit * n + (n - 1 - d),
                    )
                )
        return z

    def compact(
        self,
        target_files_per_bucket: int = 1,
        sort_by: str | Sequence[str] | None = None,
        method: str = "hierarchical",
    ) -> None:
        """Rewrite every bucket partition down to
        ``target_files_per_bucket`` files.  Merges skip the write-side
        repartition (each merge appends task-aligned files to the
        touched buckets), so file counts grow with merge frequency;
        this is the periodic maintenance pass that restores scan
        efficiency — the parquet analog of Delta OPTIMIZE.  Values are
        untouched; only layout changes.

        ``sort_by`` (manifest protocol + ``zone_map_cols`` synergy):
        CLUSTER each bucket by the given column(s) and cut it into
        ``target_files_per_bucket`` equal-height RANGE slices, one file
        per slice — the OPTIMIZE ZORDER analog.  Each file then covers
        a narrow leading-column range, so the per-file zone maps let
        ``read_range`` skip WITHIN buckets: a range predicate opens
        ~1/k of every bucket instead of all of it.  The per-bucket
        sort happens inside the bucket's shuffle partition (the same
        a-bucket-fits-in-a-task posture the merge already holds); the
        range cut uses the writer's ``maxRecordsPerFile`` roll over
        the sorted stream, so each bucket directory gets ~k files of
        contiguous sorted rows — deterministic slicing, no reliance on
        hash placement.

        A TUPLE of columns with ``method="hierarchical"`` (default)
        clusters files on the leading column, with the secondary
        contiguous inside equal leading values — a conjunctive
        ``read_where({c1: ..., c2: ...})`` predicate skips on BOTH
        bounds whenever the leading column is coarse-grained (many
        rows per value — e.g. day-grain timestamps × user id; measured
        in tests/test_zone_maps.py).  ``method="zorder"`` interleaves
        range-rank bits instead (the Delta OPTIMIZE ZORDER BY analog):
        every file covers a narrow RECTANGLE, so single-column
        predicates on EITHER dimension prune — the right layout for
        fine-grained ORTHOGONAL dimensions, where a hierarchical sort
        leaves the secondary bounds near-full-range (both layouts
        measured side by side in tests/test_zone_maps.py)."""
        self._require_parquet_layout("compact")
        if method not in ("hierarchical", "zorder"):
            raise ValueError(
                f"method must be 'hierarchical' or 'zorder', got {method!r}"
            )
        if not self.exists():
            return
        current = self.read(with_bucket=True)
        options = None
        k = max(int(target_files_per_bucket), 1)
        if sort_by is not None or k > 1:
            # deterministic file cut for ANY multi-file target: the
            # writer's maxRecordsPerFile rolls each bucket's stream
            # every ~1/k of the largest bucket — salt-only placement
            # is fragile under AQE, which coalesces small shuffles
            # into one partition and would emit one file per bucket
            import math

            worst = (
                current.groupBy(BUCKET_COL)
                .count()
                .agg(F.max("count"))
                .collect()[0][0]
            )
            if not worst:
                return
            options = {"maxRecordsPerFile": str(max(math.ceil(worst / k), 1))}
        if sort_by is not None:
            sort_cols = (
                [sort_by] if isinstance(sort_by, str) else list(sort_by)
            )
            if method == "zorder" and len(sort_cols) >= 2:
                z = self._zorder_expr(current, sort_cols)
                compacted = (
                    current.withColumn("__qss_z", z)
                    .repartition(F.col(BUCKET_COL))
                    .sortWithinPartitions(BUCKET_COL, "__qss_z")
                    .drop("__qss_z")
                )
            else:
                compacted = current.repartition(
                    F.col(BUCKET_COL)
                ).sortWithinPartitions(BUCKET_COL, *sort_cols)
        elif target_files_per_bucket == 1:
            compacted = current.repartition(F.col(BUCKET_COL))
        else:
            salt = F.pmod(F.xxhash64(*[F.col(k) for k in self.keys]), F.lit(target_files_per_bucket))
            compacted = current.repartition(F.col(BUCKET_COL), salt)
        if self._log is not None:
            self._write_manifest_commit(
                compacted, list(self._log.read().keys()), options=options,
                op="compact",
            )
            return
        self._write(compacted, "overwrite", repartition=False, options=options)

    def content_checksum(self, version: int | None = None) -> int:
        """Order-independent checksum of the table's logical content:
        the exact integer SUM of one xxhash64 per row over the data
        columns in schema order.  Identical content gives an identical
        checksum regardless of partitioning, file layout, commit
        protocol or row order — the anti-entropy primitive for
        verifying a CDC replica (or a restored snapshot) without
        shipping data: compare two longs.  One map-combinable
        aggregation; the hash runs JVM-side."""
        df = self.read(version=version)
        cols = [c for c in df.columns if c != BUCKET_COL]
        h = F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
        row = df.agg(F.coalesce(F.sum(h), F.lit(0).cast("decimal(38,0)")).alias("c")).collect()[0]
        return int(row.c)

    def bucket_checksums(self, version: int | None = None) -> dict[int, int]:
        """Per-bucket content checksums — when two tables disagree,
        diffing these (num_buckets-bounded) maps locates the divergent
        buckets so repair reads only those, never the table."""
        df = self.read(with_bucket=True, version=version)
        cols = [c for c in df.columns if c != BUCKET_COL]
        h = F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
        rows = df.groupBy(BUCKET_COL).agg(F.sum(h).alias("c")).collect()
        return {int(r[BUCKET_COL]): int(r.c) for r in rows}

    def maybe_compact(
        self,
        max_files_per_bucket: int = 8,
        target_files_per_bucket: int = 1,
        sort_by: str | Sequence[str] | None = None,
        method: str = "hierarchical",
    ) -> bool:
        """Auto-compaction policy (the OPTIMIZE scheduler): compact only
        when some bucket's file count exceeds ``max_files_per_bucket``.
        Merges append task-aligned files per touched bucket, so file
        counts grow with merge frequency; calling this after every N
        merges (or from a maintenance cron) bounds read amplification
        without paying a rewrite on every batch.  Returns whether a
        compaction ran.  The check is metadata-only: the manifest
        mapping under the manifest protocol, one directory listing per
        bucket otherwise.  ``sort_by`` forwards to :meth:`compact` —
        a long-lived streaming table then periodically re-clusters
        into range-sliced files and keeps its zone maps sharp."""
        self._require_parquet_layout("maybe_compact")
        if not self.exists():
            return False
        if self._log is not None:
            # pointer-layout tables answer the worst-bucket question
            # with one pruned aggregation (r13); inline/cached
            # snapshots take the in-memory mapping (free there)
            v = self._log.latest_version()
            worst = (
                self._log.files_per_bucket_max(v) if v is not None else None
            )
            if worst is None:
                worst = max(
                    (len(fl) for fl in self._log.read().values()), default=0
                )
        else:
            fs, root, jvm = _hadoop_fs(self.spark, self.path)
            worst = 0
            for status in fs.listStatus(root):
                name = status.getPath().getName()
                if not status.isDirectory() or not name.startswith(BUCKET_COL):
                    continue
                n = sum(
                    1
                    for f in fs.listStatus(status.getPath())
                    if f.getPath().getName().endswith(".parquet")
                )
                worst = max(worst, n)
        if worst <= max_files_per_bucket:
            return False
        self.compact(target_files_per_bucket, sort_by=sort_by, method=method)
        return True

    def file_count(self) -> int:
        """Parquet data files currently in the table (all buckets)."""
        self._require_parquet_layout("file_count")
        if self._log is not None:
            return sum(len(fl) for fl in self._log.read().values())
        fs, root, jvm = _hadoop_fs(self.spark, self.path)
        count = 0
        for status in fs.listStatus(root):
            name = status.getPath().getName()
            if not status.isDirectory() or not name.startswith(BUCKET_COL):
                continue
            for f in fs.listStatus(status.getPath()):
                if f.getPath().getName().endswith(".parquet"):
                    count += 1
        return count

    def soft_delete(self, deletes: DataFrame) -> None:
        """Mark matching keys inactive, keeping their row (reference's
        "data soft deleter", delete.rs:252-285).  Non-matching delete keys
        are no-ops, like an UPDATE that matches nothing."""
        dk = self._dedup(deletes).select(*self.keys).withColumn(BUCKET_COL, self._bucket_expr())
        if not self.exists():
            return
        dk = dk.persist()  # two consumers: the DPP broadcast + the flag join
        try:
            if self._log is not None:
                touched = self._touched(dk)
                current = self._read_current_buckets(touched)
            else:
                touched = None
                current = self._pruned_current(dk)
            flagged = current.join(
                dk.withColumn("__qss_del", F.lit(True)).drop(BUCKET_COL),
                on=self.keys,
                how="left",
            )
            merged = flagged.withColumn(
                self.soft_delete_col,
                F.when(F.col("__qss_del"), F.lit(False)).otherwise(F.col(self.soft_delete_col)),
            ).drop("__qss_del")
            if self._log is not None:
                self._write_manifest_commit(merged, touched, op="soft_delete")
            else:
                # like the upsert path (repartition=False): the flag join
                # keyed on the key columns leaves rows bucket-coherent, so
                # re-shuffling by bucket before the write would be a full
                # extra exchange per delete batch purely for file layout
                self._write(merged, "overwrite", repartition=False)
        finally:
            dk.unpersist()

    def hard_delete(self, deletes: DataFrame) -> None:
        """Physically remove matching keys (WHEN MATCHED THEN DELETE).

        Under the manifest protocol this is one atomic commit: replaced
        buckets with no surviving rows simply have no files in the new
        snapshot.  The direct protocol needs a second, non-atomic step
        (dropping emptied partition dirs) — the crash-consistency gap
        the manifest mode exists to close."""
        dk = self._dedup(deletes).select(*self.keys).withColumn(BUCKET_COL, self._bucket_expr())
        if not self.exists():
            return
        dk = dk.persist()  # consumers: _touched collect + the anti-join
        try:
            touched = self._touched(dk)
            if not touched:
                return
            if self._log is not None:
                current = self._read_current_buckets(touched)
                remaining = current.join(dk.drop(BUCKET_COL), on=self.keys, how="left_anti")
                self._write_manifest_commit(remaining, touched, op="hard_delete")
                return
            current = self._current_in(touched)
            # one materialization serves the emptied-bucket probe AND the
            # rewrite — without it the touched buckets are scanned and
            # anti-joined twice (once for the distinct-bucket collect,
            # once for the write)
            remaining = current.join(
                dk.drop(BUCKET_COL), on=self.keys, how="left_anti"
            ).persist()
            try:
                kept = [r[0] for r in remaining.select(BUCKET_COL).distinct().collect()]
                emptied = [b for b in touched if b not in kept]
                if kept:
                    # anti-join on the key columns keeps rows bucket-coherent —
                    # skip the cosmetic bucket re-shuffle (mirrors upsert)
                    self._write(remaining, "overwrite", repartition=False)
                if emptied:
                    self._drop_bucket_dirs(emptied)
            finally:
                remaining.unpersist()
        finally:
            dk.unpersist()
