"""Pure-Python ORC footer parser: per-file, per-column statistics.

The reference leaves file-level COLUMN statistics unextracted — an explicit
TODO (src/metadata.rs:79-84, "column statistics are not yet extracted") —
and pyarrow's ``ORCFile`` exposes stripe/row counts but not the statistics
themselves. This module closes that gap from the PUBLIC ORC specification
(https://orc.apache.org/specification/ORCv1/ and its ``orc_proto.proto``):

  file tail = [metadata][footer][postscript][1-byte postscript length]

- PostScript (uncompressed protobuf): footerLength=1, compression=2
  (0 NONE / 1 ZLIB / 2 SNAPPY / 4 ZSTD / 5 LZ4).
- Footer (compressed as an ORC chunk stream — repeated 3-byte little-endian
  header ``len<<1 | isOriginal`` + chunk): types=4 (root struct's
  fieldNames give column names), numberOfRows=6, statistics=7 (one
  ColumnStatistics per flattened type; index 0 is the root struct, flat
  schemas map column j -> statistics[j+1]).
- ColumnStatistics: numberOfValues=1, intStatistics=2 (sint64 zigzag
  min/max/sum), doubleStatistics=3 (IEEE754 LE min/max/sum),
  stringStatistics=4 (utf8 min/max), decimalStatistics=6 (string min/max),
  dateStatistics=7 (sint32 days), timestampStatistics=9 (minimumUtc=3 /
  maximumUtc=4, zigzag epoch millis), hasNull=10.

Only varint/fixed64/length-delimited wire types occur, so the protobuf
walker below is ~30 lines, dependency-free, and runs inside the ``orcmeta``
data source's reader, on the driver (``orcmeta.load``) or in its per-file
tasks (``spark.read.format("orcmeta")``): at 100 TB the stats scan reads
ONLY file tails (one ranged read per file), never row data.
"""

from __future__ import annotations

import os
import struct
import zlib
from typing import Any

# ---------------------------------------------------------------------------
# protobuf wire format (public spec) — just enough for the ORC footer
# ---------------------------------------------------------------------------


def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    res = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        res |= (b & 0x7F) << shift
        if not b & 0x80:
            return res, pos
        shift += 7


def _zigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _fields(buf: bytes):
    """Yield (field_no, wire_type, value) over one protobuf message; varint
    fields yield ints, length-delimited yield bytes, fixed64/32 raw bytes."""
    pos = 0
    while pos < len(buf):
        key, pos = _varint(buf, pos)
        fno, wt = key >> 3, key & 7
        if wt == 0:
            v, pos = _varint(buf, pos)
        elif wt == 1:
            v = buf[pos : pos + 8]
            pos += 8
        elif wt == 2:
            ln, pos = _varint(buf, pos)
            v = buf[pos : pos + ln]
            pos += ln
        elif wt == 5:
            v = buf[pos : pos + 4]
            pos += 4
        else:  # groups (3/4) never occur in ORC protos
            raise ValueError(f"unsupported protobuf wire type {wt}")
        yield fno, wt, v


# ---------------------------------------------------------------------------
# ORC chunked-compression stream
# ---------------------------------------------------------------------------

_NONE, _ZLIB, _SNAPPY, _LZO, _LZ4, _ZSTD = range(6)


def _snappy_uncompressed_len(chunk: bytes) -> int:
    # raw-snappy streams lead with the uncompressed length as a varint
    n, _ = _varint(chunk, 0)
    return n


def _zstd_content_size(chunk: bytes) -> int:
    """Frame Content Size from the zstd frame header (RFC 8878 §3.1.1) —
    pyarrow's zstd codec needs the exact decompressed size up front."""
    if chunk[:4] != b"\x28\xb5\x2f\xfd":
        raise ValueError("not a zstd frame")
    fhd = chunk[4]
    fcs_code = fhd >> 6
    single_segment = bool(fhd & 0x20)
    pos = 5 + (0 if single_segment else 1)  # window descriptor byte
    pos += (0, 1, 2, 4)[fhd & 0x03]  # dictionary id field
    if fcs_code == 0:
        if not single_segment:
            raise ValueError("zstd frame lacks a content-size field")
        return chunk[pos]
    size_bytes = (0, 2, 4, 8)[fcs_code]
    val = int.from_bytes(chunk[pos : pos + size_bytes], "little")
    return val + (256 if fcs_code == 1 else 0)


def _lz4_block_decompress(chunk: bytes) -> bytes:
    """Pure-Python LZ4 BLOCK decoder (the raw format ORC chunks use — not
    the framed format pyarrow's default "lz4" codec speaks). ORC chunk
    headers carry only the COMPRESSED length, and LZ4 blocks don't embed
    their decompressed size, so a size-taking codec can't be used safely
    (an over-estimate returns garbage-padded buffers); the block format
    decodes cleanly by walking tokens until input is exhausted. Footer/
    index sections are KBs, so pure Python is plenty. Verified against
    pyarrow's lz4_raw compressor in tests."""
    out = bytearray()
    pos = 0
    n = len(chunk)
    while pos < n:
        token = chunk[pos]
        pos += 1
        lit_len = token >> 4
        if lit_len == 15:
            while True:
                b = chunk[pos]
                pos += 1
                lit_len += b
                if b != 255:
                    break
        if pos + lit_len > n:  # a slice would silently truncate
            raise ValueError("corrupt LZ4 block: truncated literals")
        out += chunk[pos : pos + lit_len]
        pos += lit_len
        if pos >= n:  # last sequence: literals only
            break
        if pos + 2 > n:
            raise ValueError("corrupt LZ4 block: truncated match offset")
        offset = chunk[pos] | (chunk[pos + 1] << 8)
        pos += 2
        if offset == 0:
            raise ValueError("corrupt LZ4 block: zero match offset")
        match_len = (token & 0x0F) + 4
        if token & 0x0F == 15:
            while True:
                b = chunk[pos]
                pos += 1
                match_len += b
                if b != 255:
                    break
        start = len(out) - offset
        if start < 0:
            raise ValueError("corrupt LZ4 block: offset before start")
        for i in range(match_len):  # may self-overlap: copy byte-wise
            out.append(out[start + i])
    return bytes(out)


def _decompress_stream(buf: bytes, kind: int) -> bytes:
    if kind == _NONE:
        return bytes(buf)
    out = bytearray()
    pos = 0
    while pos < len(buf):
        h = buf[pos] | (buf[pos + 1] << 8) | (buf[pos + 2] << 16)
        pos += 3
        is_original, ln = h & 1, h >> 1
        chunk = buf[pos : pos + ln]
        pos += ln
        if is_original:
            out += chunk
        elif kind == _ZLIB:  # ORC zlib = raw deflate, no header
            out += zlib.decompressobj(-15).decompress(chunk)
        elif kind == _SNAPPY:
            import pyarrow

            out += pyarrow.decompress(
                chunk,
                decompressed_size=_snappy_uncompressed_len(chunk),
                codec="snappy",
                asbytes=True,
            )
        elif kind == _ZSTD:
            import pyarrow

            out += pyarrow.Codec("zstd").decompress(
                chunk,
                decompressed_size=_zstd_content_size(chunk),
                asbytes=True,
            )
        elif kind == _LZ4:
            out += _lz4_block_decompress(chunk)
        else:
            raise ValueError(f"unsupported ORC compression kind {kind}")
    return bytes(out)


# ---------------------------------------------------------------------------
# footer → column statistics
# ---------------------------------------------------------------------------


def _parse_column_statistics(buf: bytes) -> dict[str, Any]:
    st: dict[str, Any] = {
        "kind": None,
        "num_values": None,
        "has_null": None,
        "min": None,
        "max": None,
        "sum": None,
    }
    for fno, _wt, v in _fields(buf):
        if fno == 1:
            st["num_values"] = v
        elif fno == 10:
            st["has_null"] = bool(v)
        elif fno == 2:  # IntegerStatistics {min=1,max=2,sum=3} sint64
            st["kind"] = "int"
            for f2, _w2, v2 in _fields(v):
                if f2 in (1, 2, 3):
                    st[("min", "max", "sum")[f2 - 1]] = _zigzag(v2)
        elif fno == 3:  # DoubleStatistics {min=1,max=2,sum=3} double
            st["kind"] = "double"
            for f2, _w2, v2 in _fields(v):
                if f2 in (1, 2, 3):
                    st[("min", "max", "sum")[f2 - 1]] = struct.unpack("<d", v2)[0]
        elif fno == 4:  # StringStatistics {min=1,max=2,sum=3(total len)}
            st["kind"] = "string"
            for f2, _w2, v2 in _fields(v):
                if f2 in (1, 2):
                    st[("min", "max")[f2 - 1]] = v2.decode("utf-8")
                elif f2 == 3:
                    st["sum"] = _zigzag(v2)
        elif fno == 6:  # DecimalStatistics: decimal-string min/max
            st["kind"] = "decimal"
            for f2, _w2, v2 in _fields(v):
                if f2 in (1, 2):
                    st[("min", "max")[f2 - 1]] = v2.decode("utf-8")
        elif fno == 7:  # DateStatistics {min=1,max=2} sint32 epoch days
            st["kind"] = "date"
            for f2, _w2, v2 in _fields(v):
                if f2 in (1, 2):
                    st[("min", "max")[f2 - 1]] = _zigzag(v2)
        elif fno == 9:  # TimestampStatistics: minimumUtc=3/maximumUtc=4 ms;
            # pre-utc Java/Hive writers emit ONLY the legacy writer-zone
            # minimum=1/maximum=2 — fall back so old-lake files still
            # surface a range instead of silent NULLs (round-10 review)
            st["kind"] = "timestamp"
            legacy: dict[str, int] = {}
            for f2, _w2, v2 in _fields(v):
                if f2 in (3, 4):
                    st[("min", "max")[f2 - 3]] = _zigzag(v2)
                elif f2 in (1, 2):
                    legacy[("min", "max")[f2 - 1]] = _zigzag(v2)
            for k2, v2 in legacy.items():
                if st.get(k2) is None:
                    st[k2] = v2
    return st


DEFAULT_TAIL_HINT = 256 * 1024


def _read_tail_sections(
    path: str, with_metadata: bool = False, size_hint: int = DEFAULT_TAIL_HINT
):
    """Read + decompress the footer (and optionally the metadata section,
    which precedes it: [metadata][footer][postscript][ps-length byte]) from
    the file tail — one ranged read when ``size_hint`` covers the sections,
    two otherwise. ``size_hint`` is the reference's ``metadata_size_hint``
    (src/options.rs:51-54: how many tail bytes to prefetch before knowing
    the real footer length) made REAL at this seam rather than a validated
    no-op: too small still works (second ranged read), larger trades bytes
    for round-trips — exactly the object-store tuning knob it is upstream.

    Returns (footer, metadata, compression) — the compression kind so
    row-index readers can decompress stripe-footer/index bytes read later."""
    size = os.path.getsize(path)
    tail_len = min(size, max(size_hint, 1 + 255))  # always covers postscript
    with open(path, "rb") as f:
        f.seek(size - tail_len)
        tail = f.read(tail_len)
        ps_len = tail[-1]
        ps = tail[-1 - ps_len : -1]
        footer_len = 0
        metadata_len = 0
        compression = _NONE
        for fno, _wt, v in _fields(ps):
            if fno == 1:
                footer_len = v
            elif fno == 2:
                compression = v
            elif fno == 5:
                metadata_len = v
        need = footer_len + ps_len + 1 + (metadata_len if with_metadata else 0)
        if need > tail_len:  # huge tail: one more ranged read
            f.seek(size - need)
            tail = f.read(need)
    footer = _decompress_stream(
        tail[-(1 + ps_len + footer_len) : -(1 + ps_len)], compression
    )
    metadata = None
    if with_metadata and metadata_len:
        lo = -(1 + ps_len + footer_len + metadata_len)
        hi = -(1 + ps_len + footer_len)
        metadata = _decompress_stream(tail[lo:hi], compression)
    return footer, metadata, compression


def _footer_column_names(footer: bytes) -> list[str]:
    """Root struct's fieldNames (types[0] of the footer) — the column-name
    source for BOTH the file-level and stripe-level statistics surfaces."""
    names: list[str] = []
    for fno, _wt, v in _fields(footer):
        if fno == 4:  # first Type message = root struct
            for f2, _w2, v2 in _fields(v):
                if f2 == 3:
                    names.append(v2.decode("utf-8"))
            break
    return names


def read_column_statistics(
    path: str, size_hint: int = DEFAULT_TAIL_HINT
) -> dict[str, Any]:
    """Parse one ORC file's footer: column names, row count, and per-column
    file-level statistics — from the file TAIL only (one ranged read)."""
    footer, _, _ = _read_tail_sections(path, size_hint=size_hint)

    column_names = _footer_column_names(footer)
    stats: list[dict[str, Any]] = []
    num_rows = None
    for fno, _wt, v in _fields(footer):
        if fno == 6:
            num_rows = v
        elif fno == 7:
            stats.append(_parse_column_statistics(v))
    # flat schemas: statistics[0] is the root struct, column j -> j+1. Nested
    # schemas flatten depth-first; this surface targets flat warehouse tables
    # (the reference's scope), so nested children beyond the top level are
    # simply extra entries past len(column_names) and are dropped here.
    by_column = {
        name: stats[i + 1]
        for i, name in enumerate(column_names)
        if i + 1 < len(stats)
    }
    return {"num_rows": num_rows, "columns": column_names, "stats": by_column}


def read_stripe_statistics(
    path: str, size_hint: int = DEFAULT_TAIL_HINT
) -> dict[str, Any]:
    """Parse the ORC METADATA section (which precedes the footer): one
    ColumnStatistics set PER STRIPE (orc_proto: Metadata { repeated
    StripeStatistics = 1 }, StripeStatistics { repeated ColumnStatistics
    colStats = 1 }) — the granularity the engine's stripe pruning actually
    consults, exposed as data. Column names come from the footer; the same
    root-at-index-0 flattening as the file-level statistics applies."""
    footer, metadata, _ = _read_tail_sections(
        path, with_metadata=True, size_hint=size_hint
    )
    column_names = _footer_column_names(footer)
    stripes: list[dict[str, Any]] = []
    if metadata:
        for fno, _wt, v in _fields(metadata):
            if fno != 1:  # StripeStatistics
                continue
            stats = [
                _parse_column_statistics(v2)
                for f2, _w2, v2 in _fields(v)
                if f2 == 1
            ]
            stripes.append(
                {
                    name: stats[i + 1]
                    for i, name in enumerate(column_names)
                    if i + 1 < len(stats)
                }
            )
    return {"columns": column_names, "stripes": stripes}


# ---------------------------------------------------------------------------
# row-group (row index) statistics — granularity below stripes
# ---------------------------------------------------------------------------

_ROW_INDEX_STREAM = 6  # orc_proto Stream.Kind.ROW_INDEX


def _footer_stripe_infos(footer: bytes) -> list[dict[str, int]]:
    """Footer field 3: repeated StripeInformation { offset=1, indexLength=2,
    dataLength=3, footerLength=4, numberOfRows=5 } — the byte layout needed
    to locate each stripe's index region and stripe footer."""
    infos: list[dict[str, int]] = []
    for fno, _wt, v in _fields(footer):
        if fno != 3:
            continue
        info = {"offset": 0, "index_len": 0, "data_len": 0, "footer_len": 0, "rows": 0}
        for f2, _w2, v2 in _fields(v):
            if f2 == 1:
                info["offset"] = v2
            elif f2 == 2:
                info["index_len"] = v2
            elif f2 == 3:
                info["data_len"] = v2
            elif f2 == 4:
                info["footer_len"] = v2
            elif f2 == 5:
                info["rows"] = v2
        infos.append(info)
    return infos


def read_rowgroup_statistics(
    path: str, size_hint: int = DEFAULT_TAIL_HINT
) -> dict[str, Any]:
    """Parse the ROW_INDEX streams: one ColumnStatistics PER ROW GROUP
    (default stride 10,000 rows) per column per stripe — the granularity
    BELOW stripes that the reference only TODOs ("row-level filtering when
    supported", src/opener.rs:64-66). Completes the statistics ladder
    file → stripe → row group.

    Layout (public ORC spec): each stripe is [index][data][stripe footer].
    The stripe footer (StripeFooter { repeated Stream streams=1 { kind=1,
    column=2, length=3 } }) directories the streams IN FILE ORDER, index
    streams first; a stream of kind ROW_INDEX holds RowIndex { repeated
    RowIndexEntry entry=1 }, RowIndexEntry { repeated uint64 positions=1,
    ColumnStatistics statistics=2 }.

    I/O shape: one tail read (footer) + TWO ranged reads per stripe (the
    stripe footer, then the whole index region of ``indexLength`` bytes) —
    still metadata-only; row data is never touched. At 100 TB this runs
    under ``orcmeta.load`` exactly like the file/stripe modes.
    """
    footer, _, compression = _read_tail_sections(path, size_hint=size_hint)
    column_names = _footer_column_names(footer)
    ncols = len(column_names)
    stripes: list[list[dict[str, Any]]] = []  # [stripe][rowgroup] → by-column
    with open(path, "rb") as f:
        for info in _footer_stripe_infos(footer):
            f.seek(info["offset"] + info["index_len"] + info["data_len"])
            sfooter = _decompress_stream(f.read(info["footer_len"]), compression)
            f.seek(info["offset"])
            index_region = f.read(info["index_len"])
            # walk the stream directory in file order; index streams come
            # first, so cumulative lengths locate each within index_region
            pos = 0
            per_col_entries: dict[int, list[dict[str, Any]]] = {}
            for fno, _wt, v in _fields(sfooter):
                if fno != 1:  # Stream
                    continue
                kind, col, ln = 0, 0, 0
                for f2, _w2, v2 in _fields(v):
                    if f2 == 1:
                        kind = v2
                    elif f2 == 2:
                        col = v2
                    elif f2 == 3:
                        ln = v2
                if pos + ln > len(index_region):
                    break  # past the index region: data streams from here on
                if kind == _ROW_INDEX_STREAM:
                    rix = _decompress_stream(index_region[pos : pos + ln], compression)
                    entries = []
                    for f3, _w3, v3 in _fields(rix):
                        if f3 != 1:  # RowIndexEntry
                            continue
                        st = None
                        for f4, _w4, v4 in _fields(v3):
                            if f4 == 2:  # ColumnStatistics
                                st = _parse_column_statistics(v4)
                        if st is not None:
                            entries.append(st)
                    per_col_entries[col] = entries
                pos += ln
            # flat schemas: stream column ids are flattened type ids — root
            # struct is 0, column j is j+1 (same mapping as the footer stats)
            n_groups = max(
                (len(e) for e in per_col_entries.values()), default=0
            )
            groups: list[dict[str, Any]] = []
            for g in range(n_groups):
                by_col = {}
                for j in range(ncols):
                    entries = per_col_entries.get(j + 1)
                    if entries is not None and g < len(entries):
                        by_col[column_names[j]] = entries[g]
                groups.append(by_col)
            stripes.append(groups)
    return {"columns": column_names, "stripes": stripes}


# ---------------------------------------------------------------------------
# row-group BLOOM FILTERS — membership pruning below statistics
# ---------------------------------------------------------------------------

_BLOOM_STREAM = 7  # orc_proto Stream.Kind.BLOOM_FILTER (legacy, fixed64 bitset)
_BLOOM_UTF8_STREAM = 8  # orc_proto Stream.Kind.BLOOM_FILTER_UTF8
_BLOOM_DEFAULT_SEED = 104729  # ORC/Hive Murmur3 DEFAULT_SEED (public spec)
_U64 = (1 << 64) - 1


def orc_hash_long(value: int) -> int:
    """ORC's 64-bit integer bloom hash: Thomas Wang's 64-bit mix evaluated
    in SIGNED int64 arithmetic (left shifts wrap, right shifts are
    ARITHMETIC) — the C++ writer's convention, which diverges from a
    logical-shift reading for negative intermediates. Verified empirically
    against pyarrow-written filters over negative/zero/positive keys
    (tests pin 0 misses over 10k values)."""

    def s64(x: int) -> int:
        x &= _U64
        return x - (1 << 64) if x >= (1 << 63) else x

    key = s64(value)
    key = s64((~key) + (key << 21))
    key = s64(key ^ (key >> 24))  # Python >> on negative ints IS arithmetic
    key = s64(key + (key << 3) + (key << 8))
    key = s64(key ^ (key >> 14))
    key = s64(key + (key << 2) + (key << 4))
    key = s64(key ^ (key >> 28))
    key = s64(key + (key << 31))
    return key & _U64


def _fmix64(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _U64
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _U64
    k ^= k >> 33
    return k


def orc_hash_bytes(data: bytes, seed: int = _BLOOM_DEFAULT_SEED) -> int:
    """ORC's string/bytes bloom hash: Hive's TRUE 64-bit Murmur3 variant
    (8-byte blocks — NOT the x64_128 truncated to 64 bits), seed 104729.
    Verified empirically against pyarrow-written filters (0 misses)."""
    c1 = 0x87C37B91114253D5
    c2 = 0x4CF5AD432745937F
    h = seed
    n8 = len(data) // 8
    for i in range(n8):
        k = int.from_bytes(data[i * 8 : i * 8 + 8], "little")
        k = (k * c1) & _U64
        k = ((k << 31) | (k >> 33)) & _U64
        k = (k * c2) & _U64
        h ^= k
        h = ((h << 27) | (h >> 37)) & _U64
        h = (h * 5 + 0x52DCE729) & _U64
    tail = data[n8 * 8 :]
    if tail:
        k1 = int.from_bytes(tail, "little")
        k1 = (k1 * c1) & _U64
        k1 = ((k1 << 31) | (k1 >> 33)) & _U64
        k1 = (k1 * c2) & _U64
        h ^= k1
    h ^= len(data)
    return _fmix64(h)


def bloom_might_contain(bf: dict[str, Any], hash64: int) -> bool:
    """Membership test against one parsed BloomFilter: split the 64-bit
    hash into signed 32-bit halves, combine as h1 + i*h2 for i in 1..k
    (int32 wrap, negative → bitwise complement), test bit pos % numBits —
    the Hive/ORC addHash contract."""
    nbits = bf["num_bits"]
    if not nbits:
        # a filter carrying no bits carries no information: the safe
        # answer is "maybe" — False would claim definite absence and a
        # pruner would skip data it must read (round-10 review)
        return True
    words = bf["words"]
    h1 = hash64 & 0xFFFFFFFF
    h2 = (hash64 >> 32) & 0xFFFFFFFF
    if h1 >= 1 << 31:
        h1 -= 1 << 32
    if h2 >= 1 << 31:
        h2 -= 1 << 32
    for i in range(1, bf["num_hashes"] + 1):
        combined = ((h1 + i * h2 + 2**31) % 2**32) - 2**31  # int32 wrap
        if combined < 0:
            combined = ~combined
        pos = combined % nbits
        if not (words[pos >> 6] >> (pos & 63)) & 1:
            return False
    return True


def read_bloom_filters(
    path: str, size_hint: int = DEFAULT_TAIL_HINT
) -> dict[str, Any]:
    """Parse the bloom-filter index streams: one BloomFilter PER ROW GROUP
    per bloom-indexed column (BloomFilterIndex { repeated BloomFilter = 1 },
    BloomFilter { numHashFunctions=1, bitset=2, utf8bitset=3 }). Both
    stream kinds are handled: BLOOM_FILTER_UTF8 (kind 8, bitset as bytes)
    and the LEGACY BLOOM_FILTER (kind 7, bitset as repeated fixed64 —
    written by pre-ORC-101 Java writers and still emitted under
    orc.bloom.filter.write.version=original; a 100 TB lake has old files).
    When a writer emits both kinds for a column, UTF8 wins: for string
    columns the legacy kind hashed default-charset bytes (the ORC-101 bug
    the UTF8 kind fixed), so it is only trusted alone. The long/int hash is
    identical in both kinds; legacy STRING filters match UTF-8 writers only
    for ASCII data. Together with read_rowgroup_statistics this is the
    complete row-group pruning input: min/max ranges AND membership — the
    reference's row-level TODO (src/opener.rs:64-66) exceeded at both axes.
    Same I/O shape as the row-group stats (tail + two ranged reads per
    stripe)."""
    footer, _, compression = _read_tail_sections(path, size_hint=size_hint)
    column_names = _footer_column_names(footer)
    stripes: list[dict[str, list[dict[str, Any]]]] = []
    with open(path, "rb") as f:
        for info in _footer_stripe_infos(footer):
            f.seek(info["offset"] + info["index_len"] + info["data_len"])
            sfooter = _decompress_stream(f.read(info["footer_len"]), compression)
            f.seek(info["offset"])
            index_region = f.read(info["index_len"])
            pos = 0
            by_col: dict[str, list[dict[str, Any]]] = {}
            for fno, _wt, v in _fields(sfooter):
                if fno != 1:  # Stream
                    continue
                kind, col, ln = 0, 0, 0
                for f2, _w2, v2 in _fields(v):
                    if f2 == 1:
                        kind = v2
                    elif f2 == 2:
                        col = v2
                    elif f2 == 3:
                        ln = v2
                if pos + ln > len(index_region):
                    break  # past the index region: data streams from here on
                if kind in (_BLOOM_STREAM, _BLOOM_UTF8_STREAM) and (
                    1 <= col <= len(column_names)
                ):
                    bfi = _decompress_stream(
                        index_region[pos : pos + ln], compression
                    )
                    filters = []
                    for f3, _w3, v3 in _fields(bfi):
                        if f3 != 1:  # BloomFilter
                            continue
                        k = 0
                        words: list[int] = []
                        for f4, w4, v4 in _fields(v3):
                            if f4 == 1:
                                k = v4
                            elif f4 == 2:  # legacy bitset: repeated fixed64
                                if w4 == 1:  # unpacked: one word per field
                                    words.append(
                                        int.from_bytes(v4, "little")
                                    )
                                else:  # packed: blob of 8-byte LE words
                                    words.extend(
                                        int.from_bytes(v4[i : i + 8], "little")
                                        for i in range(0, len(v4), 8)
                                    )
                            elif f4 == 3:  # utf8bitset: the same longs, bytes
                                words = [
                                    int.from_bytes(v4[i : i + 8], "little")
                                    for i in range(0, len(v4), 8)
                                ]
                        filters.append(
                            {
                                "num_hashes": k,
                                "num_bits": len(words) * 64,
                                "words": words,
                            }
                        )
                    name = column_names[col - 1]
                    # UTF8 (kind 8) wins when a writer emits both kinds
                    if kind == _BLOOM_UTF8_STREAM or name not in by_col:
                        by_col[name] = filters
                pos += ln
            stripes.append(by_col)
    return {"columns": column_names, "stripes": stripes}


_ENCODING_KINDS = {0: "DIRECT", 1: "DICTIONARY", 2: "DIRECT_V2", 3: "DICTIONARY_V2"}


def read_column_encodings(
    path: str, size_hint: int = DEFAULT_TAIL_HINT
) -> list[dict[str, Any]]:
    """Parse per-stripe column encodings from the StripeFooter
    (StripeFooter { repeated Stream = 1; repeated ColumnEncoding = 2 },
    ColumnEncoding { Kind kind = 1; uint32 dictionarySize = 2 }) — the
    fourth axis of the metadata ladder after file/stripe/row-group stats
    and bloom membership: WHICH physical encoding each column got and, for
    dictionary encodings, the exact dictionary cardinality. The encoding
    list is ordered by flattened type id (root struct = 0, column j = j+1,
    the same numbering the bloom layout uses). Same I/O shape as the other
    stripe readers: tail read + one ranged stripe-footer read per stripe."""
    footer, _, compression = _read_tail_sections(path, size_hint=size_hint)
    column_names = _footer_column_names(footer)
    out: list[dict[str, Any]] = []
    with open(path, "rb") as f:
        for sidx, info in enumerate(_footer_stripe_infos(footer)):
            f.seek(info["offset"] + info["index_len"] + info["data_len"])
            sfooter = _decompress_stream(f.read(info["footer_len"]), compression)
            cid = 0
            for fno, _wt, v in _fields(sfooter):
                if fno != 2:  # ColumnEncoding
                    continue
                kind, dsz = 0, 0
                for f2, _w2, v2 in _fields(v):
                    if f2 == 1:
                        kind = v2
                    elif f2 == 2:
                        dsz = v2
                if cid >= 1 and cid <= len(column_names):  # skip the root struct
                    out.append(
                        {
                            "stripe": sidx,
                            "column": column_names[cid - 1],
                            "encoding": _ENCODING_KINDS.get(kind, f"UNKNOWN_{kind}"),
                            "dictionary_size": dsz,
                        }
                    )
                cid += 1
    return out
