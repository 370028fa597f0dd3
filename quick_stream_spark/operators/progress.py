"""Durable applied-version sidecar for CDC consumers.

``ChangeReplicator`` and ``CdcAggView`` track which source snapshot
version they last applied.  Keeping that watermark only in memory makes
"resumable" a lie across process restarts: a fresh instance re-runs the
bootstrap, and for SIGNED-delta consumers (CdcAggView) the replayed
bootstrap + deltas double-count groups whose stored ``_src_version``
has since advanced.  The sidecar persists the watermark next to the
consumer's own table (one tiny JSON file, written AFTER the apply
completes) so a restart resumes exactly where the previous process
stopped; a crash between apply and sidecar write re-applies one
version, which the consumers' per-group ``_src_version`` guard absorbs
as a no-op.

Each watermark is its own file, ``_qss_applied-<v>.json``, published by
write-temp + rename and read back as the highest ``<v>`` present; older
files are pruned only after the new one is in place.  No step removes
the current watermark before its successor exists, so a crash at any
point leaves the previous watermark or the new one -- never none and
never a truncated file.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import SparkSession

_APPLIED_RE = re.compile(r"^_qss_applied-(\d+)\.json$")


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(hconf), p, jvm


def _published(fs, p) -> list[int]:
    """Versions of the watermark files under ``p``, ascending."""
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        m = _APPLIED_RE.match(st.getPath().getName())
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def read_applied(spark: SparkSession, table_path: str) -> int | None:
    """The persisted applied-version watermark, or ``None`` if absent
    (fresh consumer, or pre-sidecar state)."""
    fs, p, _ = _fs(spark, table_path)
    vs = _published(fs, p)
    return vs[-1] if vs else None


def write_applied(spark: SparkSession, table_path: str, version: int) -> None:
    fs, p, jvm = _fs(spark, table_path)

    def path(name: str):
        return jvm.org.apache.hadoop.fs.Path(os.path.join(table_path, name))

    fs.mkdirs(p)
    body = json.dumps({"applied_version": int(version)}).encode("utf-8")
    tmp = path(f".tmp-applied-{uuid.uuid4().hex}.json")
    out = fs.create(tmp, True)
    out.write(bytearray(body))
    out.close()
    final = path(f"_qss_applied-{int(version)}.json")
    if not fs.rename(tmp, final):
        fs.delete(tmp, False)
        # a retried apply re-publishes the watermark already in place
        if not fs.exists(final):
            raise RuntimeError(f"could not publish applied-version sidecar at {final}")
    for v in _published(fs, p):
        if v < int(version):
            fs.delete(path(f"_qss_applied-{v}.json"), False)
