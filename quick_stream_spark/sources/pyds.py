"""Python Data Source (Spark 4 connector API) — O15 parity through the
modern pure-Python connector surface.

The reference's only source is an in-process channel (upsert.rs:77); a
Spark engine's equivalent contract is "any DataSource V2 connector".
Spark 4 lets one be written in pure Python (Arrow-batched under the
hood), so this module ships a deterministic synthetic source proving
the engine speaks that API end to end:

- ``SyntheticRowsDataSource`` (batch): N rows split over P input
  partitions, each row's payload derived from its id with Knuth
  multiplicative hashing — engine-independent integer arithmetic, so a
  DuckDB oracle can regenerate the exact rows and the roundtrip is
  hash-checked (plans/extensions.py source_python_datasource).
- ``read`` yields plain tuples; Spark batches them through Arrow.  A
  production connector would yield from its client library cursor the
  same way — partition planning (one InputPartition per parallel
  cursor) is the scale contract.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

KNUTH = 2654435761  # multiplicative hash constant
MOD = 2**32


class SyntheticRowsDataSource(DataSource):
    """``spark.read.format("qss_synthetic").option("rows", N)`` — a
    deterministic generator source."""

    @classmethod
    def name(cls) -> str:
        return "qss_synthetic"

    def schema(self) -> str:
        return "id BIGINT, bucket INT, value DOUBLE"

    def reader(self, schema) -> "SyntheticRowsReader":
        return SyntheticRowsReader(self.options)


class SyntheticRowsReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.n_rows = int(options.get("rows", "1000"))
        self.n_parts = int(options.get("partitions", "4"))

    def partitions(self):
        # one InputPartition per parallel reader task; ids are striped
        # across partitions so every partition sees the full id range
        # (a real connector would hand out shard/offset ranges here)
        return [InputPartition(i) for i in range(self.n_parts)]

    def read(self, partition):
        start = partition.value
        for i in range(start, self.n_rows, self.n_parts):
            h = (i * KNUTH) % MOD
            # h / 2^32 is a power-of-two division: exact in binary
            # floating point, so any engine reproduces it bit-for-bit
            yield (i, h % 16, h / MOD)


def register(spark) -> None:
    spark.dataSource.register(SyntheticRowsDataSource)


class SyntheticRowsStreamReader(DataSourceStreamReader):
    """Micro-batch stream over the same deterministic generator: each
    ``latestOffset`` call advances the available range by ``chunk``
    rows until ``rows`` are exhausted — the offset/partition/commit
    protocol of a real streaming connector (a Kafka-style source would
    return broker offsets instead)."""

    def __init__(self, options) -> None:
        self.n_rows = int(options.get("rows", "1000"))
        self.chunk = int(options.get("chunk", "250"))
        self.current = 0

    def initialOffset(self):
        return {"offset": 0}

    def latestOffset(self):
        self.current = min(self.current + self.chunk, self.n_rows)
        return {"offset": self.current}

    def partitions(self, start, end):
        return [InputPartition((start["offset"], end["offset"]))]

    def read(self, partition):
        lo, hi = partition.value
        for i in range(lo, hi):
            h = (i * KNUTH) % MOD
            yield (i, h % 16, h / MOD)

    def commit(self, end) -> None:
        pass


class SyntheticStreamDataSource(DataSource):
    """``spark.readStream.format("qss_synthetic_stream")`` — the
    streaming twin of :class:`SyntheticRowsDataSource`."""

    @classmethod
    def name(cls) -> str:
        return "qss_synthetic_stream"

    def schema(self) -> str:
        return "id BIGINT, bucket INT, value DOUBLE"

    def streamReader(self, schema) -> SyntheticRowsStreamReader:
        return SyntheticRowsStreamReader(self.options)


def register_stream(spark) -> None:
    spark.dataSource.register(SyntheticStreamDataSource)


# ------------------------------------------------ CDC change-feed stream

_DDL_TYPES = {
    "long": "BIGINT",
    "integer": "INT",
    "short": "SMALLINT",
    "byte": "TINYINT",
    "double": "DOUBLE",
    "float": "FLOAT",
    "string": "STRING",
    "boolean": "BOOLEAN",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP_NTZ",
    "date": "DATE",
}


def _cdc_table_columns(path: str) -> list[tuple[str, str]]:
    """(name, spark-type-name) pairs from the KeyedTable schema sidecar,
    bucket column excluded — plain-Python JSON read (the reader runs
    outside any Spark session; at cluster scale swap open() for fsspec,
    the protocol is unchanged)."""
    import json
    import os

    with open(os.path.join(path, "_qss_schema.json")) as f:
        doc = json.load(f)
    return [
        (fld["name"], fld["type"])
        for fld in doc["fields"]
        if fld["name"] != "__qss_bucket"
    ]


def _cdc_versions(path: str) -> list[int]:
    import os

    mdir = os.path.join(path, "_qss_manifest")
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in os.listdir(mdir):
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _cdc_mapping(path: str, version: int) -> dict[int, list[str]]:
    """Bucket->files of one snapshot, reconstructed with plain open()
    (the reader runs outside any Spark session).  The manifest log is
    SEGMENTED (r10): a version may be a delta document, so walk back
    to the nearest full checkpoint and replay — through ManifestLog's
    OWN apply function, the single source of truth for what a delta
    means (chains are bounded by the log's checkpoint interval)."""
    import json
    import os

    from quick_stream_spark.operators.commitlog import ManifestLog

    if version == 0:  # synthetic pre-history: the empty table
        return {}
    chain = []
    v = version
    while True:
        with open(os.path.join(path, "_qss_manifest", f"v{v}.json")) as f:
            doc = json.load(f)
        if "delta" not in doc:
            if "checkpoint_parquet" in doc:
                # r11 parquet checkpoint: read the file rows with plain
                # pyarrow (this reader runs outside any Spark session).
                # CDC planning only needs the MAPPING; stats/zones are
                # irrelevant here, and _apply_delta degrades them to
                # None conservatively.
                import pyarrow.parquet as pq

                tbl = pq.read_table(
                    os.path.join(
                        path, "_qss_manifest", doc["checkpoint_parquet"]
                    ),
                    columns=["kind", "bucket", "path"],
                ).to_pydict()
                mapping: dict[int, list[str]] = {}
                for i, k in enumerate(tbl["kind"]):
                    if k == "file":
                        mapping.setdefault(int(tbl["bucket"][i]), []).append(
                            tbl["path"][i]
                        )
                snap = (mapping, None, None)
            else:
                snap = ManifestLog._full_parts(doc)
            break
        chain.append(doc)
        v -= 1
    for raw in reversed(chain):
        snap = ManifestLog._apply_delta(snap, raw)
    return snap[0]


class CdcStreamReader(DataSourceStreamReader):
    """Tails a KeyedTable's manifest log and emits its change feed
    as a stream — the Delta-CDF-as-stream analog, speaking the same
    offset protocol as any micro-batch connector: offsets are manifest
    VERSIONS, a batch covers the commits in (start, end], and
    partition planning hands out one InputPartition per (commit pair,
    changed bucket) — genuinely parallel, and each task reads only the
    files of its bucket in the two snapshots being diffed (CDC cost
    follows change volume).  Version 0 is the synthetic empty
    pre-history, so the first batch emits the oldest retained snapshot
    as inserts (the Delta 'initial snapshot' convention).  read() is a
    pure function of immutable manifests + immutable data files, so
    checkpoint replay is exactly-once by construction."""

    def __init__(self, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("qss_cdc requires .option('path', <table dir>)")
        self.keys = [k for k in options.get("keys", "pkey").split(",") if k]
        cols = _cdc_table_columns(self.path)
        self.cols = [n for n, _ in cols]
        # only tz-aware TIMESTAMP columns get localized on read;
        # TIMESTAMP_NTZ values must stay naive
        self.tz_cols = {n for n, t in cols if t == "timestamp"}

    def initialOffset(self):
        return {"version": 0}

    def latestOffset(self):
        vs = _cdc_versions(self.path)
        return {"version": vs[-1] if vs else 0}

    def partitions(self, start, end):
        lo, hi = start["version"], end["version"]
        vs = [v for v in _cdc_versions(self.path) if lo < v <= hi]
        parts = []
        prev = lo
        for v in vs:
            m_from = _cdc_mapping(self.path, prev)
            m_to = _cdc_mapping(self.path, v)
            changed = sorted(
                b
                for b in set(m_from) | set(m_to)
                if sorted(m_from.get(b, [])) != sorted(m_to.get(b, []))
            )
            for b in changed:
                parts.append(
                    InputPartition(
                        (prev, v, b, m_from.get(b, []), m_to.get(b, []))
                    )
                )
            prev = v
        # Spark requires >= 1 partition per batch; an empty delta reads nothing
        return parts or [InputPartition((lo, hi, -1, [], []))]

    def _load(self, rel_files):
        import datetime as dt
        import os

        import pyarrow.parquet as pq

        def conv(c, v):
            # tz-aware TIMESTAMP values are UTC micros that pyarrow may
            # hand back naive — localize so Spark's Arrow path accepts
            # them (and they compare equal to the batch-read values);
            # TIMESTAMP_NTZ columns must stay naive
            if (
                c in self.tz_cols
                and isinstance(v, dt.datetime)
                and v.tzinfo is None
            ):
                return v.replace(tzinfo=dt.timezone.utc)
            return v

        state = {}
        for rel in sorted(rel_files):
            table = pq.read_table(os.path.join(self.path, rel))
            for row in table.to_pylist():
                key = tuple(row[k] for k in self.keys)
                state[key] = tuple(conv(c, row.get(c)) for c in self.cols)
        return state

    def read(self, partition):
        from_v, to_v, bucket, files_from, files_to = partition.value
        if bucket < 0:
            return
        old = self._load(files_from)
        new = self._load(files_to)
        vcols = [i for i, c in enumerate(self.cols) if c not in self.keys]
        for key in sorted(set(old) | set(new), key=repr):
            o, n = old.get(key), new.get(key)
            if o is None:
                yield (*n, "insert", to_v)
            elif n is None:
                yield (*o, "delete", to_v)
            elif any(o[i] != n[i] for i in vcols):
                yield (*o, "update_preimage", to_v)
                yield (*n, "update_postimage", to_v)

    def commit(self, end) -> None:
        pass


class CdcStreamDataSource(DataSource):
    """``spark.readStream.format("qss_cdc").option("path", dir)`` —
    the change feed of a manifest KeyedTable as a structured stream."""

    @classmethod
    def name(cls) -> str:
        return "qss_cdc"

    def schema(self) -> str:
        cols = ", ".join(
            f"{n} {_DDL_TYPES.get(t, 'STRING')}"
            for n, t in _cdc_table_columns(self.options.get("path"))
        )
        return f"{cols}, _change_type STRING, _commit_version INT"

    def streamReader(self, schema) -> CdcStreamReader:
        return CdcStreamReader(self.options)


def register_cdc(spark) -> None:
    spark.dataSource.register(CdcStreamDataSource)
