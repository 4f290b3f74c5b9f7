"""TFRecord source/sink — the framing format TensorFlow/tf.data
training pipelines ship tensors and examples in; alongside WARC tars
and parquet it is one of the bulk formats a 100 TB training-data
engine must ingest and emit. Reference behavior analogue: the bulk
export/import surface (export CSV at logs.php scale); the format
itself is from the PUBLIC TFRecord spec
(tensorflow/core/lib/io/record_writer.h) and the public
``tf.train.Example`` protos (example.proto / feature.proto) — this
module is an original stdlib+numpy implementation of both, no
TensorFlow dependency.

Framing (all little-endian)::

    uint64  length
    uint32  masked_crc32c(length bytes)
    byte    data[length]
    uint32  masked_crc32c(data)

where ``masked(crc) = ((crc >> 15 | crc << 17) + 0xa282ead8) mod 2^32``
and the CRC is CRC-32C (Castagnoli, reflected poly 0x82F63B78).

Payload: ``tf.train.Example`` — a protobuf message; a minimal wire
codec for exactly that message family lives here (varint / zigzag-free
int64, length-delimited submessages, packed float lists). Unknown
fields are skipped by wire type, per protobuf compatibility rules.

Spark shape: whole-file ``binaryFile`` scan → ONE Arrow ``mapInPandas``
parse pass, zero shuffle — the same per-shard parallelism model as the
WARC/WET readers (TFRecord corpora ship as many ~100 MB–1 GB shards,
which is plenty of tasks; a shard rides through executor memory once).
Both CRCs are verified on every record: TFRecord carries real
integrity fields, so interior corruption is *detected*, never silently
decoded (see tests/test_mutation_sweep.py). ``on_error='skip'`` gives
the per-FILE isolation every crawl-scale reader here has: one rotten
shard must not fail a 100 TB job.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

# ---------------------------------------------------------------- CRC-32C

def _make_crc32c_table() -> np.ndarray:
    poly = np.uint32(0x82F63B78)
    table = np.zeros(256, dtype=np.uint32)
    for n in range(256):
        c = np.uint32(n)
        for _ in range(8):
            c = (c >> np.uint32(1)) ^ (poly if c & np.uint32(1) else np.uint32(0))
        table[n] = c
    return table


_CRC_TABLE = _make_crc32c_table()
_MASK_DELTA = 0xA282EAD8


def _make_slice4_tables() -> np.ndarray:
    """Slicing-by-4 table stack: T[0] is the byte table, T[k][b] is
    T[k-1][b] advanced through one more zero byte — the standard
    construction that lets one iteration absorb a whole little-endian
    uint32 per lane."""
    t = np.zeros((4, 256), dtype=np.uint32)
    t[0] = _CRC_TABLE
    for k in range(1, 4):
        t[k] = (t[k - 1] >> np.uint32(8)) ^ _CRC_TABLE[t[k - 1] & np.uint32(0xFF)]
    return t


_SLICE4 = _make_slice4_tables()


def _crc32c_bytewise(data, crc: int = 0xFFFFFFFF) -> int:
    """Reference byte-at-a-time register update (pre-conditioned in,
    pre-conditioned out — no final xor)."""
    table = _CRC_TABLE
    for b in data:
        crc = int(table[(crc ^ b) & 0xFF]) ^ (crc >> 8)
    return crc


# GF(2) zero-extension operator (the zlib crc32_combine construction,
# instantiated for the Castagnoli polynomial): appending n zero BITS to
# a message transforms its raw CRC register linearly over GF(2), so the
# operator is a 32x32 bit matrix; appending real block B to A is then
# crc(A||B) = M_{|B|}(crc(A)) ^ crc(B) on the POST-conditioned values
# (the conditioning terms are linear too and cancel — same argument
# zlib's combine relies on).

def _gf2_times(mat: list[int], vec: int) -> int:
    s = 0
    i = 0
    while vec:
        if vec & 1:
            s ^= mat[i]
        vec >>= 1
        i += 1
    return s


def _gf2_square(mat: list[int]) -> list[int]:
    return [_gf2_times(mat, mat[n]) for n in range(32)]


import functools


@functools.lru_cache(maxsize=64)
def _zero_op(nbytes: int) -> tuple[int, ...]:
    """Matrix applying ``nbytes`` zero bytes to a reflected CRC-32C
    register."""
    # one zero BIT on the reflected register: right shift + conditional
    # polynomial xor — as a matrix: column n maps bit n
    odd = [0x82F63B78] + [1 << (n - 1) for n in range(1, 32)]
    even = _gf2_square(odd)  # two bits
    # compose square-and-multiply over the bit count
    nbits = nbytes * 8
    mats = [odd, even]
    while (1 << len(mats)) <= nbits:
        mats.append(_gf2_square(mats[-1]))
    result: list[int] | None = None
    for k, m in enumerate(mats):
        if nbits >> k & 1:
            result = m if result is None else [
                _gf2_times(m, result[n]) for n in range(32)
            ]
    assert result is not None  # nbytes >= 1 always at the call sites
    return tuple(result)


def crc32c_combine(crc1: int, crc2: int, len2: int) -> int:
    """crc32c(A || B) from crc32c(A), crc32c(B), len(B)."""
    if len2 == 0:
        return crc1
    return _gf2_times(_zero_op(len2), crc1) ^ crc2


@functools.lru_cache(maxsize=64)
def _zero_op_cols(nbytes: int) -> "np.ndarray":
    return np.array(_zero_op(nbytes), dtype=np.uint32)


def _fold_lanes(crcs: "np.ndarray", lane_len: int) -> int:
    """Tree-combine a power-of-two vector of per-lane CRCs (lane k =
    the k-th contiguous ``lane_len``-byte block) into the CRC of the
    concatenation — the matrix application is vectorized across lanes,
    so the fold is O(32·log lanes) numpy ops, not O(lanes) Python
    loops."""
    length = lane_len
    while len(crcs) > 1:
        cols = _zero_op_cols(length)
        first, second = crcs[0::2], crcs[1::2]
        acc = np.zeros(len(first), dtype=np.uint32)
        for i in range(32):
            mask = (first >> np.uint32(i)) & np.uint32(1)
            acc ^= cols[i] * mask
        crcs = acc ^ second
        length *= 2
    return int(crcs[0])


_VEC_MIN = 4096  # below this the numpy lane setup costs more than it saves


def crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli). Small buffers (every Example record) take
    the table-driven byte loop; large buffers (whole-shard checksums,
    100 MB-class at crawl scale) split into equal lanes whose CRCs
    advance TOGETHER in one numpy table-lookup per byte position —
    loop length drops by the lane count — and fold with the GF(2)
    zero-extension combine (lane count scales with the buffer so a
    1 GB shard is a ~64k-step loop, not a 10⁹-step one). Identical
    output to the byte loop (property-pinned in tests)."""
    n = len(data)
    if n < _VEC_MIN:
        return _crc32c_bytewise(data) ^ 0xFFFFFFFF
    # power-of-two lane count (the tree fold pairs lanes level by level);
    # 2^14 measured best on the copy-vs-gather tradeoff, ~125 MiB/s on a
    # 256 MiB buffer vs ~10 MiB/s for the byte loop
    lanes = 1 << max(4, min(14, (n // 4096).bit_length() - 1))
    lane_len = (n // lanes) & ~3  # whole uint32 words per lane
    t3, t2, t1, t0 = _SLICE4[3], _SLICE4[2], _SLICE4[1], _SLICE4[0]
    words = (
        np.frombuffer(data, np.uint8, count=lanes * lane_len)
        .reshape(lanes, lane_len)
        .view("<u4")  # rows are contiguous: lane k = its byte block
    )
    m = np.uint32(0xFF)
    crcs = np.full(lanes, 0xFFFFFFFF, np.uint32)
    n_words = lane_len // 4
    TILE = 16  # one 64-byte cache line of words per row per tile: the
    # tile-transpose reads every line once, where a whole-array .T.copy()
    # strides (measured 2 s alone on a 256 MiB buffer)
    for j0 in range(0, n_words, TILE):
        tile = np.ascontiguousarray(words[:, j0:j0 + TILE].T)
        for j in range(tile.shape[0]):
            x = crcs ^ tile[j]
            crcs = (
                t3[x & m]
                ^ t2[(x >> np.uint32(8)) & m]
                ^ t1[(x >> np.uint32(16)) & m]
                ^ t0[x >> np.uint32(24)]
            )
    crcs ^= np.uint32(0xFFFFFFFF)  # post-condition each lane
    total = _fold_lanes(crcs, lane_len)
    tail = data[lanes * lane_len:]
    if tail:
        total = crc32c_combine(
            total, _crc32c_bytewise(tail) ^ 0xFFFFFFFF, len(tail)
        )
    return total


def masked_crc32c(data: bytes) -> int:
    crc = crc32c(data)
    return ((crc >> 15) | ((crc << 17) & 0xFFFFFFFF)) + _MASK_DELTA & 0xFFFFFFFF


# ------------------------------------------------------- protobuf wire codec
# Wire types: 0 varint, 1 fixed64, 2 length-delimited, 5 fixed32.

def _enc_uvarint(n: int) -> bytes:
    if n < 0:  # protobuf int64: two's complement, always 10 bytes
        n += 1 << 64
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _dec_uvarint(buf: bytes, i: int) -> tuple[int, int]:
    shift = 0
    val = 0
    while True:
        if i >= len(buf):
            raise ValueError("truncated varint")
        b = buf[i]
        i += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, i
        shift += 7
        if shift > 63:
            raise ValueError("varint overflow")


def _enc_field(num: int, wtype: int, payload: bytes) -> bytes:
    head = _enc_uvarint(num << 3 | wtype)
    if wtype == 2:
        return head + _enc_uvarint(len(payload)) + payload
    return head + payload


def _iter_fields(buf: bytes) -> Iterator[tuple[int, int, bytes | int]]:
    """Yield (field_number, wire_type, value) — value is raw bytes for
    wire type 2, the int for varint/fixed (fixed returned as bytes)."""
    i = 0
    while i < len(buf):
        tag, i = _dec_uvarint(buf, i)
        num, wtype = tag >> 3, tag & 7
        if wtype == 0:
            val, i = _dec_uvarint(buf, i)
            yield num, wtype, val
        elif wtype == 2:
            n, i = _dec_uvarint(buf, i)
            if i + n > len(buf):
                raise ValueError("length-delimited field past end")
            yield num, wtype, buf[i:i + n]
            i += n
        elif wtype == 5:
            if i + 4 > len(buf):
                raise ValueError("fixed32 past end")
            yield num, wtype, buf[i:i + 4]
            i += 4
        elif wtype == 1:
            if i + 8 > len(buf):
                raise ValueError("fixed64 past end")
            yield num, wtype, buf[i:i + 8]
            i += 8
        else:
            raise ValueError(f"unsupported wire type {wtype}")


# ------------------------------------------------ tf.train.Example codec
# Example{1: Features}; Features{1: map<string, Feature>} (map entry =
# submessage {1: key, 2: value}); Feature oneof {1: BytesList,
# 2: FloatList, 3: Int64List}; BytesList{repeated bytes 1};
# FloatList{repeated float 1, packed}; Int64List{repeated int64 1, packed}.

KINDS = ("bytes", "float", "int64")


def encode_example(features: dict[str, tuple[str, list]]) -> bytes:
    """Serialize {name: (kind, values)} — kind in 'bytes' (values are
    bytes; str is utf-8 encoded), 'float' (float32 wire), 'int64' —
    into tf.train.Example bytes."""
    entries = b""
    for name in sorted(features):  # deterministic bytes for hashing
        kind, values = features[name]
        if kind == "bytes":
            inner = b"".join(
                _enc_field(1, 2, v.encode("utf-8") if isinstance(v, str) else bytes(v))
                for v in values
            )
            feat = _enc_field(1, 2, inner)
        elif kind == "float":
            packed = struct.pack(f"<{len(values)}f", *values)
            feat = _enc_field(2, 2, _enc_field(1, 2, packed))
        elif kind == "int64":
            packed = b"".join(_enc_uvarint(int(v)) for v in values)
            feat = _enc_field(3, 2, _enc_field(1, 2, packed))
        else:
            raise ValueError(f"unknown feature kind {kind!r}")
        entry = _enc_field(1, 2, name.encode("utf-8")) + _enc_field(2, 2, feat)
        entries += _enc_field(1, 2, entry)
    return _enc_field(1, 2, entries)


def _decode_feature(buf: bytes) -> tuple[str, list]:
    for num, wtype, val in _iter_fields(buf):
        if wtype != 2:
            continue
        if num == 1:  # BytesList
            return "bytes", [v for n, w, v in _iter_fields(val) if n == 1 and w == 2]
        if num == 2:  # FloatList — packed (or unpacked fixed32 per spec)
            out: list[float] = []
            for n, w, v in _iter_fields(val):
                if n != 1:
                    continue
                if w == 2:
                    if len(v) % 4:
                        raise ValueError("packed float list length not /4")
                    out.extend(struct.unpack(f"<{len(v) // 4}f", v))
                elif w == 5:
                    out.append(struct.unpack("<f", v)[0])
            return "float", out
        if num == 3:  # Int64List — packed varints (or unpacked)
            vals: list[int] = []
            for n, w, v in _iter_fields(val):
                if n != 1:
                    continue
                if w == 2:
                    i = 0
                    while i < len(v):
                        x, i = _dec_uvarint(v, i)
                        vals.append(x - (1 << 64) if x >= 1 << 63 else x)
                elif w == 0:
                    vals.append(v - (1 << 64) if v >= 1 << 63 else v)
            return "int64", vals
    return "bytes", []  # empty Feature: no list set


def decode_example(buf: bytes) -> dict[str, tuple[str, list]]:
    """Parse tf.train.Example bytes back to {name: (kind, values)}.
    Unknown fields are skipped; malformed wire data raises ValueError."""
    features: dict[str, tuple[str, list]] = {}
    for num, wtype, val in _iter_fields(buf):
        if num != 1 or wtype != 2:
            continue
        for fnum, fw, fval in _iter_fields(val):  # Features.feature map
            if fnum != 1 or fw != 2:
                continue
            name, feat = None, b""
            for enum, ew, eval_ in _iter_fields(fval):
                if enum == 1 and ew == 2:
                    name = eval_.decode("utf-8", errors="strict")
                elif enum == 2 and ew == 2:
                    feat = eval_
            if name is not None:
                features[name] = _decode_feature(feat)
    return features


# --------------------------------------------------------------- framing

def frame_record(data: bytes) -> bytes:
    length = struct.pack("<Q", len(data))
    return (
        length
        + struct.pack("<I", masked_crc32c(length))
        + data
        + struct.pack("<I", masked_crc32c(data))
    )


def iter_tfrecord(data: bytes) -> Iterator[bytes]:
    """Walk a TFRecord byte stream yielding record payloads; verifies
    BOTH masked CRCs — corruption anywhere is a contract ValueError,
    never a silent wrong decode (the integrity property the mutation
    sweep pins)."""
    i = 0
    n = len(data)
    while i < n:
        if i + 12 > n:
            raise ValueError("truncated TFRecord header")
        (length,) = struct.unpack_from("<Q", data, i)
        (length_crc,) = struct.unpack_from("<I", data, i + 8)
        if masked_crc32c(data[i:i + 8]) != length_crc:
            raise ValueError("TFRecord length CRC mismatch")
        if length > n - i - 16:
            raise ValueError("TFRecord record runs past end of file")
        payload = data[i + 12:i + 12 + length]
        (data_crc,) = struct.unpack_from("<I", data, i + 12 + length)
        if masked_crc32c(payload) != data_crc:
            raise ValueError("TFRecord data CRC mismatch")
        yield payload
        i += 16 + length


def to_tfrecord_bytes(examples: list[dict[str, tuple[str, list]]]) -> bytes:
    return b"".join(frame_record(encode_example(ex)) for ex in examples)


# ------------------------------------------------------------ Spark reader

_SCALAR_TYPES = {"bytes": "binary", "string": "string",
                 "int64": "long", "float": "float"}
_LIST_TYPES = {"bytes_list": "array<binary>", "string_list": "array<string>",
               "int64_list": "array<long>", "float_list": "array<float>"}


def _spec_schema(feature_spec: dict[str, str]) -> str:
    cols = ["tfrecord_path string", "record_index long"]
    for name, kind in feature_spec.items():
        if kind in _SCALAR_TYPES:
            cols.append(f"{name} {_SCALAR_TYPES[kind]}")
        elif kind in _LIST_TYPES:
            cols.append(f"{name} {_LIST_TYPES[kind]}")
        else:
            raise ValueError(f"unknown feature kind {kind!r} for {name!r}")
    return ", ".join(cols)


def _extract(feats: dict, name: str, kind: str):
    got = feats.get(name)
    vals = got[1] if got else []
    base = kind.removesuffix("_list")
    if base == "string":
        vals = [v.decode("utf-8") if isinstance(v, (bytes, bytearray)) else v
                for v in vals]
    elif base == "bytes":
        vals = [bytes(v) for v in vals]
    if kind in _LIST_TYPES:
        return vals if got else None
    return vals[0] if vals else None


def _parse_pass(
    raw: DataFrame, feature_spec: dict[str, str], on_error: str = "raise"
) -> DataFrame:
    """The shared Arrow parse stage over whole-file byte rows (columns:
    path, content) — used verbatim by the batch reader and the
    streaming twin, so the two can never disagree on what a record
    is."""
    if on_error not in ("raise", "skip"):
        raise ValueError("on_error must be 'raise' or 'skip'")
    schema = _spec_schema(feature_spec)
    spec = dict(feature_spec)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["tfrecord_path", "record_index", *spec]
        out: list[dict] = []
        for pdf in batches:
            for fpath, content in zip(pdf["path"], pdf["content"]):
                file_rows: list[dict] = []
                try:
                    for idx, payload in enumerate(iter_tfrecord(bytes(content))):
                        feats = decode_example(payload)
                        row = {"tfrecord_path": fpath, "record_index": idx}
                        for name, kind in spec.items():
                            row[name] = _extract(feats, name, kind)
                        file_rows.append(row)
                except ValueError as e:
                    if on_error == "raise":
                        raise ValueError(
                            f"corrupt TFRecord file {fpath}: {e!r}") from e
                    continue
                out.extend(file_rows)
                if len(out) >= 1024:
                    yield pd.DataFrame(out, columns=cols)
                    out = []
        yield pd.DataFrame(out, columns=cols)

    return raw.select("path", "content").mapInPandas(parse, schema=schema)


def read_tfrecords(
    spark: SparkSession,
    path: str,
    feature_spec: dict[str, str],
    on_error: str = "raise",
) -> DataFrame:
    """Read TFRecord shard(s) of tf.train.Example into typed columns.

    ``feature_spec`` maps feature name → kind: scalar kinds ``bytes
    string int64 float`` take the first list element (null when the
    feature is absent/empty); ``*_list`` kinds keep the whole list.
    ``on_error='skip'`` drops a corrupt shard WHOLE (all-or-nothing,
    same contract as the WARC reader — a partial shard presented as
    complete is the worse failure at 100 TB)."""
    raw = spark.read.format("binaryFile").load(path)
    return _parse_pass(raw, feature_spec, on_error)


def read_tfrecords_stream(
    spark: SparkSession,
    path: str,
    feature_spec: dict[str, str],
    on_error: str = "raise",
) -> DataFrame:
    """Streaming twin of :func:`read_tfrecords`: a file-source
    ``readStream`` over the same binaryFile format with the SAME Arrow
    parse stage, so a streaming ingest and a batch backfill can never
    disagree on what a record is (the contract every streaming reader
    here keeps — see sources/warc.read_warc_stream). New ``.tfrecord``
    shards dropped into ``path`` become micro-batches; the file-source
    checkpoint gives exactly-once; ``maxFilesPerTrigger`` bounds each
    micro-batch at 100 TB."""
    from wc_vector_indexing_spark.sources.readers import binaryfile_stream

    return _parse_pass(binaryfile_stream(spark, path), feature_spec, on_error)


# ------------------------------------------------------------ Spark writer

def _row_features(row: dict, kinds: dict[str, str]) -> dict[str, tuple[str, list]]:
    feats = {}
    for name, kind in kinds.items():
        v = row[name]
        # Arrow->pandas renders NULL in an integral column as float NaN
        # (and sometimes pd.NA); only a genuinely-floating column keeps
        # NaN as a value — same documented posture as the Avro sink
        if v is None or v is pd.NA or (
                kind != "float" and isinstance(v, float) and v != v):
            feats[name] = (kind, [])
        elif isinstance(v, (list, tuple, np.ndarray)):
            vals = list(v)
            # a null ELEMENT in an integral/bytes array arrives as
            # None or (numpy float-ification) NaN; tf.train.Example
            # lists have no null element, and a hole in a token array
            # is corrupt input — the contract error beats int(nan)
            # killing the stage. Float arrays keep NaN as a value
            # (null→NaN is the same documented merge as scalars).
            if any(e is None for e in vals) or (
                    kind != "float"
                    and any(isinstance(e, float) and e != e for e in vals)):
                raise ValueError(
                    f"null element in array column {name!r}; "
                    "tf.train.Example features cannot carry nulls")
            if kind == "int64" and any(isinstance(e, float) for e in vals):
                vals = [int(e) for e in vals]  # un-float-ify
            feats[name] = (kind, vals)
        else:
            feats[name] = (kind, [v])
    return feats


MAX_OPEN_SHARDS = 128


def write_tfrecords(df: DataFrame, path: str,
                    partition_by: list[str] | None = None) -> DataFrame:
    """Write ``df`` as one ``part-*.tfrecord`` shard per partition —
    the distributed sink half (each task serializes and writes its own
    shard; no driver funnel). String columns become utf-8 BytesList
    features, binary → BytesList, integral → Int64List, float/double →
    FloatList, arrays elementwise. Returns the (shard, n_records)
    manifest as a DataFrame (an eager, bounded action — one row per
    partition).

    ``partition_by`` writes hive-style ``col=value/`` directories
    (Spark's partitionBy convention: values escaped, NULL as the hive
    default-partition sentinel, partition columns dropped from the
    payload — readers recover them from the path). The frame gets a
    repartition on the partition columns first, so each value's rows
    co-locate and a task keeps one open shard per value it holds
    (framing is append-friendly, so shards stream record-by-record);
    more than ``MAX_OPEN_SHARDS`` distinct values in one task is a
    contract error — at that cardinality, partition on something
    coarser or raise the task count."""
    import os

    from pyspark.sql import types as T

    partition_by = list(partition_by or [])
    missing = [c for c in partition_by if c not in df.columns]
    if missing:
        raise ValueError(f"partition_by columns not in frame: {missing}")
    data_fields = [f for f in df.schema.fields if f.name not in partition_by]
    if not data_fields:
        raise ValueError("partition_by consumes every column")
    kinds: dict[str, str] = {}
    for f in data_fields:
        dt = f.dataType
        elem = dt.elementType if isinstance(dt, T.ArrayType) else dt
        if isinstance(elem, (T.StringType, T.BinaryType)):
            kinds[f.name] = "bytes"
        elif isinstance(elem, (T.LongType, T.IntegerType, T.ShortType,
                               T.ByteType, T.BooleanType)):
            kinds[f.name] = "int64"
        elif isinstance(elem, (T.FloatType, T.DoubleType)):
            kinds[f.name] = "float"
        else:
            raise ValueError(f"cannot map column {f.name}: {dt} to a Feature")
    os.makedirs(path, exist_ok=True)
    if partition_by:
        df = df.repartition(*partition_by)

    from wc_vector_indexing_spark.sources.readers import (
        eager_manifest,
        hive_partition_path,
    )

    def dump(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        handles: dict[str, tuple] = {}  # shard path -> (fh, [count])

        def shard_for(pvals) -> tuple:
            base = (hive_partition_path(path, partition_by, pvals)
                    if partition_by else path)
            shard = os.path.join(base, f"part-{pid:05d}.tfrecord")
            if shard not in handles:
                if len(handles) >= MAX_OPEN_SHARDS:
                    raise ValueError(
                        f"more than {MAX_OPEN_SHARDS} partition values "
                        "in one task; use a coarser partition_by or "
                        "more tasks")
                os.makedirs(base, exist_ok=True)
                handles[shard] = (open(shard, "wb"), [0])
            return handles[shard]

        try:
            for pdf in batches:
                for row in pdf.to_dict("records"):
                    pvals = tuple(row[c] for c in partition_by)
                    fh, count = shard_for(pvals)
                    fh.write(frame_record(encode_example(_row_features(
                        {k: row[k] for k in kinds}, kinds))))
                    count[0] += 1
        finally:
            for fh, _ in handles.values():
                fh.close()
        yield pd.DataFrame({
            "shard": list(handles),
            "n_records": [c[0] for _, c in handles.values()],
        })

    return eager_manifest(df, dump)
