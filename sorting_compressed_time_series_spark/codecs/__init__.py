"""Vectorized numpy codec kernels.

Two codec families, mirroring the reference's split (see SURVEY.md §2.1):

1. ``bytealigned`` — the "compressed-sortable" family. Payload bytes live in a
   ``vals`` plane; a 2-bit-per-element length-class ``lens`` plane makes every
   element's byte range addressable without decoding, which is what lets the
   compressed-domain sorter rotate byte ranges in place.
   Re-expresses: ``TS_DELTA_encoder/decoder`` (delta, time column) and
   ``V_VARINT_encoder/decoder`` (zigzag varint, value column)
   (reference: db/iotdb-core/datanode/src/main/java/org/apache/iotdb/db/utils/
   datastructure/compressedsort/TS_DELTA_encoder.java:19-129,
   V_VARINT_encoder.java:16-89 — format re-designed clean-room, not copied).

2. ``bitpacked`` — the high-ratio family: delta-of-delta and TS_2DIFF for
   timestamps (reference DeltaDeltaLongEncoder.java:117-174) and Gorilla XOR
   for values
   (reference LongGorillaEncoder.java:105-150 / DoublePrecisionEncoderV2).
   Our format separates fixed-width control planes (tags, window params) from
   the variable-width payload plane so DECODE is fully vectorizable — the
   reference's interleaved prefix codes force sequential decode; ours do not.

Every codec is encoded and decoded by the multi-row kernels of
``batched`` (`encode_chunk_rows`/`decode_chunk_rows`), which code every
series of an Arrow batch in one set of numpy operations; one series is a
batch of one row (`encode_chunk`/`decode_chunk`). The byte-aligned
kernels run the per-series plane kernels of ``bytealigned`` once over the
whole batch and only frame each row as a blob, so ``bytealigned._SMALL``
picks the payload path for a whole Arrow batch as it does for one column.
Golden digests pin the bytes of every codec. These are the only codecs:
the engine encodes with nothing else.
"""

from .batched import decode_chunk, encode_chunk  # noqa: F401
from .bytealigned import (  # noqa: F401
    ByteAlignedData,
    delta_decode,
    delta_encode,
    varint_decode,
    varint_encode,
    zigzag,
    unzigzag,
)
from .chunk import (  # noqa: F401
    CODEC_DELTA,
    CODEC_DOD,
    CODEC_GORILLA,
    CODEC_GORILLA_F64,
    CODEC_TS2DIFF,
    CODEC_VARINT,
)
