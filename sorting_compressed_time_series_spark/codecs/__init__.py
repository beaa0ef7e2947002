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

Both families have a per-series form (``encode_chunk``/``decode_chunk``)
and a multi-row batched form (``batched``) that encodes every series of an
Arrow batch in one set of numpy operations. The byte-aligned batched form
runs the per-series plane kernels once over the whole batch and only
frames each row as a blob, so ``bytealigned._SMALL`` picks the payload
path for a whole Arrow batch as it does for one column; a golden digest
test pins its bytes. The bit-packed batched kernels are their own code,
tested byte for byte against the per-series ones. These are the only
codecs: the engine encodes with nothing else.
"""

from .bytealigned import (  # noqa: F401
    ByteAlignedData,
    delta_decode,
    delta_encode,
    varint_decode,
    varint_encode,
    zigzag,
    unzigzag,
)
from .bitpacked import (  # noqa: F401
    dod_decode,
    dod_encode,
    gorilla_decode_doubles,
    gorilla_decode_longs,
    gorilla_encode_doubles,
    gorilla_encode_longs,
)
from .chunk import (  # noqa: F401
    CODEC_DELTA,
    CODEC_DOD,
    CODEC_GORILLA,
    CODEC_GORILLA_F64,
    CODEC_TS2DIFF,
    CODEC_VARINT,
    decode_chunk,
    encode_chunk,
)
