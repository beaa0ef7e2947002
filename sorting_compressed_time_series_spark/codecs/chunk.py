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
  codec 3 (DOD), 4/5 (GORILLA, GORILLA_F64: long / double), 6 (TS2DIFF)
                    body = the planes laid out in ``bitpacked``
Any other codec id is refused with a ``ValueError`` naming it.

This module holds the container: its constants, and the per-series
byte-aligned (de)serializers, which the tests use as the per-series
reference (``merge_pages`` over deserialized pages). Every codec is
encoded and decoded by the multi-row kernels of ``batched``;
``encode_chunk``/``decode_chunk`` there are their one-row calls.
"""

from __future__ import annotations

import numpy as np

from .bytealigned import ByteAlignedData

MAGIC = b"SC"
VERSION = 1
CODEC_DELTA = 1
CODEC_VARINT = 2
CODEC_DOD = 3
CODEC_GORILLA = 4
CODEC_GORILLA_F64 = 5
CODEC_TS2DIFF = 6

_HEADER = 4  # magic(2) + version(1) + codec(1)


def _body(blob: bytes | memoryview) -> tuple[int, np.ndarray]:
    buf = np.frombuffer(blob, dtype=np.uint8)
    if bytes(buf[:2].tobytes()) != MAGIC or buf[2] != VERSION:
        raise ValueError("bad chunk blob header")
    return int(buf[3]), buf[_HEADER:]


def serialize_bytealigned(data: ByteAlignedData, codec: int) -> bytes:
    return (MAGIC + bytes([VERSION, codec])
            + np.array([data.count], dtype="<u4").tobytes()
            + data.pack_lens() + data.vals.tobytes())


def deserialize_bytealigned(body: np.ndarray) -> ByteAlignedData:
    count = int(body[:4].view("<u4")[0])
    lens_bytes = (count + 3) // 4
    codes = ByteAlignedData.unpack_lens(body[4 : 4 + lens_bytes], count)
    vals = body[4 + lens_bytes :]
    return ByteAlignedData(np.ascontiguousarray(vals), codes, count)

