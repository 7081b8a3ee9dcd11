"""Footer-level schema & statistics, without running a query.

Mirrors the reference's metadata module:

- ``read_orc_schema``      — src/metadata.rs:35-58: read one file's footer →
  schema (+ user metadata carried through).
- ``read_orc_statistics``  — src/metadata.rs:64-86: exact row count + byte
  size from the footer (the reference TODOs column min/max at :79 — we expose
  stripe-level column stats too, exceeding it).
- ``infer_merged_schema``  — src/file_format.rs:137-162: bounded-concurrency
  footer reads over many files + Schema::try_merge.

Implementation: pyarrow.orc footer reads (driver-side, metadata-only — no row
data is materialized) over the files Spark reads (``_orc_files``). For
directories with very many files the footer reads are parallelized with a
thread pool, mirroring the reference's ``meta_fetch_concurrency``
(src/file_format.rs:153).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.orc as pa_orc

from datafusion_datasource_orc_spark.sources.orcmeta import _admitted

META_FETCH_CONCURRENCY = 32  # reference: session meta_fetch_concurrency


@dataclass(frozen=True)
class OrcFileStatistics:
    """Precision::Exact statistics (src/metadata.rs:77-85)."""

    path: str
    num_rows: int  # exact, like Precision::Exact(content_length) rows
    total_byte_size: int  # exact file length
    num_stripes: int
    compression: str
    writer_version: str | None = None

    @property
    def scan_efficiency_denominator(self) -> int:
        return self.total_byte_size


def _orc_files(path: str) -> list[str]:
    """Sorted paths of the ORC files Spark reads under ``path``: each
    directory admits files by ``orcmeta._admitted``'s name rule, and the
    walk descends into ``k=v`` partition directories but never into ``_``
    or ``.`` ones (``_temporary/``, ``.hidden/``), as Spark's listing does."""
    if os.path.isfile(path):
        return [path]
    out = []
    for root, dirs, _files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out.extend(os.path.join(root, f) for f in _admitted(root) if f not in dirs)
    return sorted(out)


def read_orc_schema(path: str) -> pa.Schema:
    """Single-file footer → Arrow schema (src/metadata.rs:35-58)."""
    return pa_orc.ORCFile(path).schema


def read_orc_statistics(path: str) -> OrcFileStatistics:
    """Single-file footer → exact stats (src/metadata.rs:64-86)."""
    f = pa_orc.ORCFile(path)
    return OrcFileStatistics(
        path=path,
        num_rows=f.nrows,
        total_byte_size=os.path.getsize(path),
        num_stripes=f.nstripes,
        compression=str(f.compression),
        writer_version=(
            str(wv) if (wv := getattr(f, "writer_version", None)) is not None
            else None
        ),
    )


def infer_merged_schema(path: str) -> pa.Schema:
    """Directory → concurrent footer reads → unified schema
    (src/file_format.rs:137-162). Raises on incompatible column types, like
    Schema::try_merge."""
    files = _orc_files(path)
    if not files:
        raise FileNotFoundError(f"No ORC files under {path!r}")
    with ThreadPoolExecutor(max_workers=META_FETCH_CONCURRENCY) as pool:
        schemas = list(pool.map(read_orc_schema, files))
    merged = schemas[0]
    for s in schemas[1:]:
        merged = pa.unify_schemas([merged, s])
    return merged


def directory_statistics(path: str) -> dict:
    """Aggregate exact stats over a listing (rows/bytes/files), the numbers the
    reference feeds the optimizer per file (src/source.rs:218-230)."""
    files = _orc_files(path)
    with ThreadPoolExecutor(max_workers=META_FETCH_CONCURRENCY) as pool:
        stats = list(pool.map(read_orc_statistics, files))
    return {
        "num_files": len(stats),
        "num_rows": sum(s.num_rows for s in stats),
        "total_byte_size": sum(s.total_byte_size for s in stats),
        "files": stats,
    }
