"""The quality-feature kernel and its Spark wrappers: decode sanity +
langid + perplexity + unmasked scrub in ONE Arrow crossing per batch.

Kernel: ``decode_arrays`` (the 6 decode-sanity columns) and
``quality_arrays`` (those plus the 5 text-model columns) take and return
``pa.Array``s. Every Spark form of the stage calls them, so the feature
loop and the field list (``DECODE_FIELDS`` + ``TEXT_FIELDS``) exist once:

- ``fused_features_arrow`` (mapInArrow, ``with_fused_features``) — slim
  rows WITHOUT the payload (the binary column dies inside the worker, so
  it never crosses back or shuffles);
- ``fused_features_udf`` (scalar Arrow UDF,
  ``with_fused_features_retaining``) — the payload stays in the JVM row;
- ``operators/decode.py`` ``decode_features_udf`` — decode columns only;
- ``operators/audio_signals.py`` ``quality_and_signals`` — the curation
  DAG's single payload pass, which adds the gate signals.

Why one crossing: chained UDFs (decode → text models) each round-trip every
batch JVM→Arrow→Python→Arrow→JVM. On a bandwidth-bound host the extra
memcpy is the difference between 3x and 4x scaling at 32 cores — and at
10^12 rows it is pure waste.

Why Arrow rather than pandas: the Arrow→pandas conversion of the binary
column materializes one Python ``bytes`` object per clip — a ~50 KB
allocation + memcpy per row that measured ~2.0s of a 6.1s sf0.1/local[32]
pipeline run (profiled via a no-op pandas-converting pass over ``bytes``
vs the same scan JVM-side). Operating on the raw Arrow arrays instead lets decode read
each payload as a ZERO-COPY memoryview into the batch's data buffer
(``_binary_views``), and the passthrough columns are re-emitted as the
input's own Arrow arrays — no conversion in either direction. Only the
computed feature vectors are newly allocated.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

# the one declaration of the quality-feature columns; every Spark and Arrow
# schema of the stage is derived from these
DECODE_FIELDS = pa.schema(
    [
        ("pcm_ok", pa.bool_()),
        ("sr_meas", pa.int32()),
        ("dur_ms_meas", pa.int32()),
        ("rms", pa.float64()),
        ("clip_rate", pa.float64()),
        ("dropout_ms", pa.float64()),
    ]
)
TEXT_FIELDS = pa.schema(
    [
        ("lang", pa.string()),
        ("lang_conf", pa.float32()),
        ("ppl", pa.float64()),
        ("scrubbed_all", pa.string()),
        ("scrub_edits_all", pa.int32()),
    ]
)
QUALITY_FIELDS = pa.schema(list(DECODE_FIELDS) + list(TEXT_FIELDS))
# input columns re-emitted unchanged next to the features
PASSTHROUGH_FIELDS = pa.schema(
    [
        ("clip_id", pa.string()),
        ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()),
        ("codec", pa.string()),
        ("transcript", pa.string()),
    ]
)
FUSED_PA_SCHEMA = pa.schema(list(PASSTHROUGH_FIELDS) + list(QUALITY_FIELDS))
FUSED_SCHEMA = from_arrow_schema(FUSED_PA_SCHEMA)


def _binary_views(arr: pa.Array) -> list:
    """Per-row zero-copy memoryviews into a (Large)BinaryArray's data buffer
    (None for nulls). The payloads are never copied out of the Arrow batch —
    decode reads them in place (np.frombuffer / struct.unpack_from accept
    any buffer). Falls back to ``to_pylist`` (one copy) for exotic layouts.
    """
    if not isinstance(arr, (pa.BinaryArray, pa.LargeBinaryArray)):
        return arr.to_pylist()
    n = len(arr)
    off_dtype = np.int64 if isinstance(arr, pa.LargeBinaryArray) else np.int32
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=off_dtype, offset=0)
    data = memoryview(bufs[2]) if bufs[2] is not None else memoryview(b"")
    base = arr.offset
    if arr.null_count == 0:
        return [data[offs[base + i] : offs[base + i + 1]] for i in range(n)]
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    return [
        data[offs[base + i] : offs[base + i + 1]] if valid[i] else None
        for i in range(n)
    ]


def decode_arrays(
    payload: pa.Array, codec: pa.Array, sr_hz: pa.Array
) -> list[pa.Array]:
    """(bytes, codec, declared sr_hz) → the ``DECODE_FIELDS`` columns.
    Undecodable payloads yield ``pcm_ok=false`` rows, never an error (the
    reference's per-item try/except containment). A NULL declared rate is
    "no declared rate" (0): the measured rate wins, and rateless clips fail
    sanity."""
    from ..functions import audio

    codecs = codec.to_pylist()
    srs = sr_hz.fill_null(0).to_numpy(zero_copy_only=False)
    rows = [
        audio.decode_features(view, codecs[i], int(srs[i]))
        for i, view in enumerate(_binary_views(payload))
    ]
    return [
        pa.array([r[j] for r in rows], type=f.type)
        for j, f in enumerate(DECODE_FIELDS)
    ]


def quality_arrays(
    payload: pa.Array, codec: pa.Array, sr_hz: pa.Array, transcript: pa.Array
) -> list[pa.Array]:
    """``decode_arrays`` + the ``TEXT_FIELDS`` columns (langid, perplexity
    and the scrub of EVERY row; the cascade masks dropped rows later)."""
    # worker-side imports: models/tables built once per python worker process
    from ..functions import scrub, textscore

    texts = transcript.to_pylist()
    langs, confs, ppls = textscore.score_batch(texts)  # hash+gather once
    out_t, out_n = scrub.scrub_batch(texts)
    return decode_arrays(payload, codec, sr_hz) + [
        pa.array(langs.tolist(), type=pa.string()),
        pa.array(confs, type=pa.float32()),
        pa.array(ppls, type=pa.float64()),
        pa.array(out_t, type=pa.string()),
        pa.array(out_n, type=pa.int32()),
    ]


def fused_features_arrow(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        cols = dict(zip(batch.schema.names, batch.columns))
        feats = quality_arrays(
            cols["bytes"], cols["codec"], cols["sr_hz"], cols["transcript"]
        )
        yield pa.RecordBatch.from_arrays(
            [cols[f.name] for f in PASSTHROUGH_FIELDS] + feats,
            schema=FUSED_PA_SCHEMA,
        )


def with_fused_features(df: DataFrame) -> DataFrame:
    """(clip_id, bytes, sr_hz, dur_ms, codec, transcript) → slim feature rows
    (bytes never returns to the JVM). The scrub prescan gate runs inside the
    worker via Arrow's RE2 kernel (scrub_batch) — measured ~2 us/row, vs
    ~56 us/row for the same pattern as a JVM ``rlike`` codegen column
    (java.util.regex backtracking) and ~65 us/row for Python ``re``."""
    cols = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
    return df.select(*cols).mapInArrow(fused_features_arrow, FUSED_SCHEMA)


# ---------------------------------------------------------------------------
# payload-retaining variant (scalar Arrow UDF)
# ---------------------------------------------------------------------------


@F.arrow_udf(from_arrow_schema(QUALITY_FIELDS))
def fused_features_udf(
    payload: pa.Array, codec: pa.Array, sr_hz: pa.Array, transcript: pa.Array
) -> pa.Array:
    """Scalar-UDF form of the fused stage: same ONE JVM→Python crossing, but
    the original row — including the payload — stays JVM-side. The payload
    is serialized INTO the worker once (the decode needs the bytes anyway)
    and only the slim feature struct comes back: nothing payload-sized ever
    re-crosses Arrow or enters an exchange."""
    return pa.StructArray.from_arrays(
        quality_arrays(payload, codec, sr_hz, transcript),
        fields=list(QUALITY_FIELDS),
    )


def with_fused_features_retaining(df: DataFrame) -> DataFrame:
    """Append the fused feature struct while RETAINING every input column
    (notably ``bytes``) in the JVM row — the building block of the
    zero-Exchange kept-clips path (plans/pipeline.py ``kept_clips``).
    Use when a downstream stage needs survivor payloads: the alternative —
    running the slim fused stage and semi-joining payloads back — plans a
    second scan and, once the kept set outgrows a broadcast, shuffles the
    payload column (forbidden, see plans/pipeline.py module docstring)."""
    return (
        df.withColumn(
            "_f",
            fused_features_udf(
                F.col("bytes"), F.col("codec"), F.col("sr_hz"), F.col("transcript")
            ),
        )
        .select("*", "_f.*")
        .drop("_f")
    )
