"""Post-cascade scrub mask.

The fused quality stage (operators/fused_stage.py) scrubs EVERY row's
transcript in the same Arrow crossing as decode and the text models
(``scrubbed_all`` / ``scrub_edits_all``); the keep decision only exists
after the codegen cascade, so the mask that exposes scrub output for kept
rows alone runs here, as plain column expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mask_scrub(df: DataFrame, keep_col: str = "keep") -> DataFrame:
    """Post-cascade: kept rows expose the scrub output, dropped rows carry
    NULL text / 0 edits (the oracle contract)."""
    return (
        df.withColumn(
            "scrubbed_transcript",
            F.when(F.col(keep_col), F.col("scrubbed_all")),
        )
        .withColumn(
            "scrub_edits",
            F.when(F.col(keep_col), F.col("scrub_edits_all")).otherwise(F.lit(0)),
        )
        .drop("scrubbed_all", "scrub_edits_all")
    )
