"""Vectorized audio-decode stage (scalar Arrow UDF over the fused kernel).

Reference analog: the per-file header read S5 — ``FileMetadataReader`` /
``make_headers_from_file`` (``wallaby2caom2/tests/test_caom_gen_visit.py:99-102``)
turning an opaque payload into a typed metadata struct. Errors never fail the
job: an undecodable payload yields ``pcm_ok=false`` (the reference's
per-item try/except containment, ``wallaby2caom2/main_app.py:256-263``).

The UDF crosses JVM→Python once per Arrow batch (sized by
``spark.sql.execution.arrow.maxRecordsPerBatch`` to ~10MB of ``bytes``) and
runs ``fused_stage.decode_arrays`` — the same decode the quality filter
uses, reading each payload zero-copy out of the batch.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from .fused_stage import DECODE_FIELDS, decode_arrays


@F.arrow_udf(from_arrow_schema(DECODE_FIELDS))
def decode_features_udf(
    payload: pa.Array, codec: pa.Array, sr_hz: pa.Array
) -> pa.Array:
    """(bytes, codec, sr_hz) → decode-sanity struct."""
    return pa.StructArray.from_arrays(
        decode_arrays(payload, codec, sr_hz), fields=list(DECODE_FIELDS)
    )


def with_decode_features(df: DataFrame) -> DataFrame:
    """Append decode struct fields; drops nothing (containment stage)."""
    return df.withColumn(
        "_dec", decode_features_udf(F.col("bytes"), F.col("codec"), F.col("sr_hz"))
    ).select("*", "_dec.*").drop("_dec")
