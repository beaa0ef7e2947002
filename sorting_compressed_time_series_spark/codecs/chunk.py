"""Chunk blob container: serialized form of one encoded column.

The reference flushes a memtable series as a page whose body is
``[count][lens][vals]`` (serialized page form read by VarDeltaLongDecoder,
reference db/iotdb-core/tsfile/.../decoder/VarDeltaLongDecoder.java:44-58),
wrapped in TsFile chunk metadata carrying Statistics
(tsfile/.../file/metadata/statistics/Statistics.java).

Our container is a self-describing binary blob stored in a ``binary``
DataFrame column; statistics live in sibling *columns* of the chunk table
(count, min/max ts, min/max/first/last/sum value, raw/compressed byte sizes)
so parquet min/max stats and Catalyst filters can prune chunks without
touching the blobs — the Spark-native analogue of IoTDB's
statistics-based chunk skipping (SeriesScanUtil).

Layout:  magic 'SC' | version u8 | codec u8 | body
  codec 1 (DELTA)   body = u32 count | lens (2-bit packed) | vals
  codec 2 (VARINT)  body = u32 count | lens (2-bit packed) | vals
  codec 3 (DOD)     body = dod_encode output
  codec 4/5 (GORILLA, GORILLA_F64) body = gorilla_encode output (long / double)
  codec 6 (TS2DIFF) body = ts2diff_encode output
Any other codec id is refused with a ``ValueError`` naming it.
"""

from __future__ import annotations

import numpy as np

from .bitpacked import (
    dod_decode,
    ts2diff_decode,
    ts2diff_encode,
    dod_encode,
    gorilla_decode_doubles,
    gorilla_decode_longs,
    gorilla_encode_doubles,
    gorilla_encode_longs,
)
from .bytealigned import (
    ByteAlignedData,
    delta_decode,
    delta_encode,
    varint_decode,
    varint_encode,
)

MAGIC = b"SC"
VERSION = 1
CODEC_DELTA = 1
CODEC_VARINT = 2
CODEC_DOD = 3
CODEC_GORILLA = 4
CODEC_GORILLA_F64 = 5
CODEC_TS2DIFF = 6

_HEADER = 4  # magic(2) + version(1) + codec(1)


def _wrap(codec: int, body: bytes) -> bytes:
    return MAGIC + bytes([VERSION, codec]) + body


def _body(blob: bytes | memoryview) -> tuple[int, np.ndarray]:
    buf = np.frombuffer(blob, dtype=np.uint8)
    if bytes(buf[:2].tobytes()) != MAGIC or buf[2] != VERSION:
        raise ValueError("bad chunk blob header")
    return int(buf[3]), buf[_HEADER:]


def serialize_bytealigned(data: ByteAlignedData, codec: int) -> bytes:
    return _wrap(
        codec,
        np.array([data.count], dtype="<u4").tobytes()
        + data.pack_lens()
        + data.vals.tobytes(),
    )


def deserialize_bytealigned(body: np.ndarray) -> ByteAlignedData:
    count = int(body[:4].view("<u4")[0])
    lens_bytes = (count + 3) // 4
    codes = ByteAlignedData.unpack_lens(body[4 : 4 + lens_bytes], count)
    vals = body[4 + lens_bytes :]
    return ByteAlignedData(np.ascontiguousarray(vals), codes, count)


def encode_chunk(values: np.ndarray, codec: int) -> bytes:
    """Encode one column (numpy array) into a chunk blob."""
    if codec == CODEC_DELTA:
        return serialize_bytealigned(delta_encode(values), codec)
    if codec == CODEC_VARINT:
        return serialize_bytealigned(varint_encode(values), codec)
    if codec == CODEC_DOD:
        return _wrap(codec, dod_encode(values))
    if codec == CODEC_GORILLA:
        return _wrap(codec, gorilla_encode_longs(
            np.ascontiguousarray(values, dtype=np.int64).view(np.uint64)))
    if codec == CODEC_GORILLA_F64:
        return _wrap(codec, gorilla_encode_doubles(values))
    if codec == CODEC_TS2DIFF:
        return _wrap(codec, ts2diff_encode(values))
    raise ValueError(f"unknown codec {codec}")


def decode_chunk(blob: bytes | memoryview) -> np.ndarray:
    """Decode a chunk blob back to its numpy column."""
    codec, body = _body(blob)
    if codec == CODEC_DELTA:
        return delta_decode(deserialize_bytealigned(body))
    if codec == CODEC_VARINT:
        return varint_decode(deserialize_bytealigned(body))
    if codec == CODEC_DOD:
        return dod_decode(body)
    if codec == CODEC_GORILLA:
        return gorilla_decode_longs(body).view(np.int64)
    if codec == CODEC_GORILLA_F64:
        return gorilla_decode_doubles(body)
    if codec == CODEC_TS2DIFF:
        return ts2diff_decode(body)
    raise ValueError(f"unknown codec {codec}")

