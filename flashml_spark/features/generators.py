"""Feature-generation stages (SURVEY §2.7).

Array→Array transformers implemented with native higher-order functions
(``F.transform``/``F.flatten``/``F.concat``) — no Python UDFs.
"""

from __future__ import annotations

from pyspark import keyword_only
from pyspark.ml import Transformer
from pyspark.ml.feature import NGram
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.param.shared import HasInputCol, HasOutputCol
from pyspark.ml.util import DefaultParamsReadable
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flashml_spark.mlio import ParamsWritable


def build_ngram_stages(input_col: str, ns: list[int]) -> list[NGram]:
    """One stock NGram stage per requested n; outputs ``<col>_ngram_<n>``
    (``FeatureGenerationEngine.scala:392-409``)."""
    return [NGram(n=n, inputCol=input_col, outputCol=f"{input_col}_ngram_{n}") for n in ns]


class SkipGramGenerator(
    Transformer, HasInputCol, HasOutputCol, DefaultParamsReadable, ParamsWritable
):
    """Skip-gram "AND rules" (``SkipGramGenerator.scala:28-46``): for each
    window size w in 3..windowSize, pair ``first & last`` of every sliding
    window of w tokens, skipping pairs whose two tokens are identical.

    Native formulation: for gap g in 2..windowSize-1, zip the token array
    with itself shifted by g — pure ``transform`` over index sequences,
    no Python, no shuffle.
    """

    windowSize = Param(Params._dummy(), "windowSize", "max sliding window size",
                       typeConverter=TypeConverters.toInt)

    @keyword_only
    def __init__(self, inputCol=None, outputCol=None, windowSize=3):
        super().__init__()
        self._setDefault(windowSize=3)
        self._set(**{k: v for k, v in self._input_kwargs.items() if v is not None})

    def _transform(self, df: DataFrame) -> DataFrame:
        toks = F.col(self.getInputCol())
        w = self.getOrDefault("windowSize")
        def pair_maker(gap: int):
            # single-param lambda only — pyspark maps every positional
            # param (even defaulted) to a HOF lambda variable
            return lambda i: F.when(
                F.element_at(toks, i) != F.element_at(toks, i + gap),
                F.concat(F.element_at(toks, i), F.lit(" & "), F.element_at(toks, i + gap)),
            )

        parts = []
        for window in range(3, w + 1):
            gap = window - 1
            count = F.size(toks) - gap
            pairs = F.transform(F.sequence(F.lit(1), count), pair_maker(gap))
            guarded = F.when(count >= 1, pairs).otherwise(
                F.expr("CAST(array() AS array<string>)")
            )
            parts.append(F.filter(guarded, lambda x: x.isNotNull()))
        out = F.concat(*parts) if len(parts) > 1 else parts[0]
        return df.withColumn(self.getOutputCol(), out)


class GramAssembler(
    Transformer, HasOutputCol, DefaultParamsReadable, ParamsWritable
):
    """Concatenate the original token array and every gram array into one
    (``GramAssembler.scala:30-36,61-79``) — ``F.concat`` supports arrays."""

    inputCols = Param(Params._dummy(), "inputCols", "array columns to concatenate",
                      typeConverter=TypeConverters.toListString)

    @keyword_only
    def __init__(self, inputCols=None, outputCol=None):
        super().__init__()
        self._set(**{k: v for k, v in self._input_kwargs.items() if v is not None})

    def _transform(self, df: DataFrame) -> DataFrame:
        cols = [F.col(c) for c in self.getOrDefault("inputCols")]
        return df.withColumn(self.getOutputCol(), F.concat(*cols))


class CategoricalConcat(
    Transformer, HasOutputCol, DefaultParamsReadable, ParamsWritable
):
    """Prefix each categorical value with ``<colName>_`` and collect into a
    single array (``CategoricalColumnsTransformer.scala:29-50``) so the
    categorical set vectorizes like a token array."""

    inputCols = Param(Params._dummy(), "inputCols", "categorical columns",
                      typeConverter=TypeConverters.toListString)

    @keyword_only
    def __init__(self, inputCols=None, outputCol="categorical_array"):
        super().__init__()
        self._setDefault(outputCol="categorical_array")
        self._set(**{k: v for k, v in self._input_kwargs.items() if v is not None})

    def _transform(self, df: DataFrame) -> DataFrame:
        cols = self.getOrDefault("inputCols")
        arr = F.array(
            *[F.concat(F.lit(f"{c}_"), F.col(c).cast("string")) for c in cols]
        )
        return df.withColumn(self.getOutputCol(), arr)
