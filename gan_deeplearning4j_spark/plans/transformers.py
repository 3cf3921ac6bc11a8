"""MLlib Pipeline integration (BASELINE.json: 'MLlib pipelines with custom
transformers').

Each engine operator that acts row-wise or dataset-wise is wrapped as a
``pyspark.ml.Transformer`` so users compose them with the standard
``pyspark.ml.Pipeline`` API — the engine's equivalent of the reference's
ComputationGraph builder (O1, dl4jGANComputerVision.java:118-165): a named
sequence of typed stages over DataFrames.

All transformers here are thin: ``_transform`` delegates to the same column
expressions / operators the query registry uses, so Catalyst sees one fused
plan across pipeline stages (stage boundaries are logical, not physical).
"""

from __future__ import annotations

from pyspark.ml import Transformer
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class _ColTransformer(Transformer):
    """Base: inputCol → outputCol column transformer."""

    def __init__(self, inputCol: str, outputCol: str):
        super().__init__()
        self.inputCol = inputCol
        self.outputCol = outputCol


class MinMaxNormalize(_ColTransformer):
    """P1: (v - min)/(max - min) via agg + broadcast join (no window, no
    second scan of a cached range — one pass for stats, one to project)."""

    def _transform(self, df: DataFrame) -> DataFrame:
        stats = df.agg(
            F.min(self.inputCol).alias("__mn"), F.max(self.inputCol).alias("__mx")
        )
        return (
            df.crossJoin(F.broadcast(stats))
            .withColumn(
                self.outputCol,
                (F.col(self.inputCol) - F.col("__mn"))
                / (F.col("__mx") - F.col("__mn")),
            )
            .drop("__mn", "__mx")
        )


class ClipTransformer(_ColTransformer):
    """P8/K9 element-wise clip."""

    def __init__(self, inputCol: str, outputCol: str, lo: float = -1.0, hi: float = 1.0):
        super().__init__(inputCol, outputCol)
        self.lo, self.hi = lo, hi

    def _transform(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            self.outputCol,
            F.greatest(F.least(F.col(self.inputCol), F.lit(self.hi)), F.lit(self.lo)),
        )


class ExactDedup(Transformer):
    """North-star exact dedup as a stage: keep min-id row per content
    fingerprint (one shuffle on the 64-bit fingerprint)."""

    def __init__(self, textCol: str = "text", idCol: str = "doc_id"):
        super().__init__()
        self.textCol, self.idCol = textCol, idCol

    def _transform(self, df: DataFrame) -> DataFrame:
        from ..functions.text import fingerprint64
        from pyspark.sql import Window

        w = Window.partitionBy(fingerprint64(F.col(self.textCol))).orderBy(self.idCol)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )


class TextStats(Transformer):
    """North-star text quality stats as appended columns."""

    def __init__(self, textCol: str = "text"):
        super().__init__()
        self.textCol = textCol

    def _transform(self, df: DataFrame) -> DataFrame:
        from ..functions import text as TX

        t = F.col(self.textCol)
        return (
            df.withColumn("n_tokens", TX.n_tokens(t))
            .withColumn("distinct_ratio", TX.distinct_ratio(t))
            .withColumn("lang_pred", TX.lang_id(t))
        )
