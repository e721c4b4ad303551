"""Text-preprocessing transformers (SURVEY §2.6) as ``pyspark.ml`` stages.

Chaining contract mirrors the reference (``core/preprocessing/
PreprocessingEngine.scala:37-47,296-455``): every stage is String→String;
tokenized text is carried as a single string with the literal ``~SP~``
delimiter (``FlashMLConstants.scala:96``) until a final RegexTokenizer
splits to ``array<string>``.

All stages are native column expressions (``F.lower``/``regexp_replace``/
``transform`` over the delimiter-split array) — zero Python in the hot path
except Porter stemming and dictionary substitution, which use Arrow-batched
pandas UDFs.  Every stage is ``DefaultParamsReadable`` and ``ParamsWritable``
so fitted pipelines round-trip through ``PipelineModel.save/load``.
"""

from __future__ import annotations

import pandas as pd
from pyspark import keyword_only
from pyspark.ml import Transformer
from pyspark.ml.feature import RegexTokenizer
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.param.shared import HasInputCol, HasOutputCol
from pyspark.ml.util import DefaultParamsReadable
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from flashml_spark.mlio import ParamsWritable

# FlashMLConstants.scala:96 — internal token delimiter
TOKEN_DELIMITER = "~SP~"


class _StringStage(
    Transformer, HasInputCol, HasOutputCol, DefaultParamsReadable, ParamsWritable
):
    """Base for String→String stages with in/out col params.

    NB: the base ``__init__`` must NOT be ``@keyword_only`` — the decorator
    stores kwargs in ``self._input_kwargs``, so a decorated base called via
    ``super().__init__()`` would clobber the subclass's kwargs.
    """

    def _init_params(self, **defaults):
        if defaults:
            self._setDefault(**defaults)
        self._set(**{k: v for k, v in self._input_kwargs.items() if v is not None})

    def setInputCol(self, value):
        return self._set(inputCol=value)

    def setOutputCol(self, value):
        return self._set(outputCol=value)

    def _in(self):
        return F.col(self.getInputCol())

    def _out_name(self):
        return self.getOutputCol()


class CaseNormalizer(_StringStage):
    """Lowercasing (``CaseNormalizationTransformer.scala:22-35``)."""

    @keyword_only
    def __init__(self, inputCol=None, outputCol=None):
        super().__init__()
        self._init_params()

    def _transform(self, df: DataFrame) -> DataFrame:
        return df.withColumn(self._out_name(), F.lower(self._in()))


class SentenceMarker(_StringStage):
    """Wrap text with sentence start/end markers
    (``SentenceMarker.scala:20-26``): ``"_class_ss " + s + " _class_se"``."""

    @keyword_only
    def __init__(self, inputCol=None, outputCol=None):
        super().__init__()
        self._init_params()

    def _transform(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            self._out_name(),
            F.concat(F.lit("_class_ss "), self._in(), F.lit(" _class_se")),
        )


class RegexReplacer(_StringStage):
    """Ordered (pattern → replacement) folds over the string
    (``RegexReplacementTransformer.scala:54-73``).  Also covers word-class
    replacement: the loader builds ``(?i)\\b(?:w1|w2)'?s?\\b → _class_X``
    patterns longest-first (``PreprocessingStageLoader.scala:88-202``)."""

    patterns = Param(
        Params._dummy(), "patterns", "list of regex patterns applied in order",
        typeConverter=TypeConverters.toListString,
    )
    replacements = Param(
        Params._dummy(), "replacements", "replacement per pattern",
        typeConverter=TypeConverters.toListString,
    )

    @keyword_only
    def __init__(self, inputCol=None, outputCol=None, patterns=None, replacements=None):
        super().__init__()
        self._init_params(patterns=[], replacements=[])

    def _transform(self, df: DataFrame) -> DataFrame:
        expr = self._in()
        for pat, rep in zip(self.getOrDefault("patterns"), self.getOrDefault("replacements")):
            expr = F.regexp_replace(expr, pat, rep)
        return df.withColumn(self._out_name(), expr)


def word_class_patterns(word_classes: dict[str, list[str]]) -> tuple[list[str], list[str]]:
    """Build ordered word-class replacement regexes: one pattern per class,
    words longest-first so overlapping words resolve to the longer match
    (``PreprocessingStageLoader.scala:88-202``)."""
    pats, reps = [], []
    # classes with longer longest-words first, to mirror overlap-aware ordering
    ordered = sorted(
        word_classes.items(), key=lambda kv: -max((len(w) for w in kv[1]), default=0)
    )
    for cls, words in ordered:
        if not words:
            continue
        alts = "|".join(sorted(map(__import__("re").escape, words), key=len, reverse=True))
        pats.append(rf"(?i)\b(?:{alts})'?s?\b")
        reps.append(f"_class_{cls}")
    return pats, reps


class RegexRemover(RegexReplacer):
    """Ordered regex removal (``PreprocessingEngine.scala:410-421``)."""

    @keyword_only
    def __init__(self, inputCol=None, outputCol=None, patterns=None):
        # skip RegexReplacer's decorated __init__ (it would clobber
        # self._input_kwargs); go straight to the undecorated Params chain
        super(RegexReplacer, self).__init__()
        self._setDefault(patterns=[], replacements=[])
        kwargs = {k: v for k, v in self._input_kwargs.items() if v is not None}
        pats = kwargs.pop("patterns", [])
        self._set(patterns=pats, replacements=["" for _ in pats], **kwargs)


class StopwordRemover(_StringStage):
    """Delimiter-split stopword removal, case-insensitive by default
    (``StopWordsRemoverCustom.scala:109-137``) — stays String→String by
    re-joining with ``~SP~``.  Native ``F.filter`` over the split array."""

    stopwords = Param(
        Params._dummy(), "stopwords", "stopwords to remove",
        typeConverter=TypeConverters.toListString,
    )
    caseSensitive = Param(
        Params._dummy(), "caseSensitive", "case sensitive matching",
        typeConverter=TypeConverters.toBoolean,
    )
    delimiter = Param(
        Params._dummy(), "delimiter", "token delimiter",
        typeConverter=TypeConverters.toString,
    )

    @keyword_only
    def __init__(self, inputCol=None, outputCol=None, stopwords=None,
                 caseSensitive=False, delimiter=TOKEN_DELIMITER):
        super().__init__()
        self._init_params(stopwords=[], caseSensitive=False, delimiter=TOKEN_DELIMITER)

    def _transform(self, df: DataFrame) -> DataFrame:
        sw = self.getOrDefault("stopwords")
        cs = self.getOrDefault("caseSensitive")
        delim = self.getOrDefault("delimiter")
        if not cs:
            sw = [w.lower() for w in sw]
        toks = F.split(self._in(), __import__("re").escape(delim))
        keep = F.filter(
            toks,
            (lambda t: ~F.lower(t).isin(*sw)) if not cs else (lambda t: ~t.isin(*sw)),
        ) if sw else toks
        return df.withColumn(self._out_name(), F.array_join(keep, delim))


class WordSubstituter(_StringStage):
    """Dictionary substitution per token (contractions / lemmatization,
    ``WordSubstitutionTransformer.scala:50-62``).  The substitution value
    may be multi-word; output stays delimiter-joined.

    Implemented as an Arrow-batched pandas UDF over the broadcast dict —
    map-side only, no shuffle.
    """

    dictionary = Param(
        Params._dummy(), "dictionary", "token -> replacement (flat k1,v1,k2,v2 list)",
        typeConverter=TypeConverters.toListString,
    )
    delimiter = Param(
        Params._dummy(), "delimiter", "token delimiter",
        typeConverter=TypeConverters.toString,
    )

    @keyword_only
    def __init__(self, inputCol=None, outputCol=None, dictionary=None,
                 delimiter=TOKEN_DELIMITER):
        super().__init__()
        self._setDefault(dictionary=[], delimiter=TOKEN_DELIMITER)
        kwargs = {k: v for k, v in self._input_kwargs.items() if v is not None}
        d = kwargs.pop("dictionary", None)
        # dict form accepted programmatically; stored flat for MLWritable
        if isinstance(d, dict):
            flat = []
            for k, v in d.items():
                flat += [k, v]
            d = flat
        if d is not None:
            kwargs["dictionary"] = d
        self._set(**kwargs)

    def _transform(self, df: DataFrame) -> DataFrame:
        flat = self.getOrDefault("dictionary")
        lookup = dict(zip(flat[0::2], flat[1::2]))
        delim = self.getOrDefault("delimiter")

        @pandas_udf("string")
        def substitute(s: pd.Series) -> pd.Series:
            def fix(text):
                if text is None:
                    return None
                out = []
                for tok in text.split(delim):
                    rep = lookup.get(tok)
                    # multi-word substitutions are re-split onto the delimiter
                    out.extend(rep.split() if rep is not None else [tok])
                return delim.join(out)

            return s.map(fix)

        return df.withColumn(self._out_name(), substitute(self._in()))


class PorterStemmer(_StringStage):
    """Porter stemming per token (``PorterStemmingTransformer.scala:42-75``):
    tokens in the exception list or containing ``_class_`` pass through.
    Arrow-batched pandas UDF around the pure-python Porter algorithm."""

    exceptions = Param(
        Params._dummy(), "exceptions", "tokens exempt from stemming",
        typeConverter=TypeConverters.toListString,
    )
    delimiter = Param(
        Params._dummy(), "delimiter", "token delimiter",
        typeConverter=TypeConverters.toString,
    )

    @keyword_only
    def __init__(self, inputCol=None, outputCol=None, exceptions=None,
                 delimiter=TOKEN_DELIMITER):
        super().__init__()
        self._init_params(exceptions=[], delimiter=TOKEN_DELIMITER)

    def _transform(self, df: DataFrame) -> DataFrame:
        from flashml_spark.preprocessing.porter import stem

        exempt = set(self.getOrDefault("exceptions"))
        delim = self.getOrDefault("delimiter")

        @pandas_udf("string")
        def stem_text(s: pd.Series) -> pd.Series:
            def fix(text):
                if text is None:
                    return None
                return delim.join(
                    t if (t in exempt or "_class_" in t) else stem(t)
                    for t in text.split(delim)
                )

            return s.map(fix)

        return df.withColumn(self._out_name(), stem_text(self._in()))


class NullImputer(
    Transformer, DefaultParamsReadable, ParamsWritable
):
    """Typed null replacement + indicator column
    (``org/apache/spark/ml/feature/ImputerCustom.scala:61-73``):
    ``na.fill`` on one column plus ``imputerCol_<col>`` flagging imputed rows."""

    inputCol = Param(Params._dummy(), "inputCol", "column to impute",
                     typeConverter=TypeConverters.toString)
    fillValue = Param(Params._dummy(), "fillValue", "replacement value (string form)",
                      typeConverter=TypeConverters.toString)

    @keyword_only
    def __init__(self, inputCol=None, fillValue=None):
        super().__init__()
        self._set(**{k: v for k, v in self._input_kwargs.items() if v is not None})

    def _transform(self, df: DataFrame) -> DataFrame:
        col = self.getOrDefault("inputCol")
        raw = self.getOrDefault("fillValue")
        dtype = dict(df.dtypes)[col]
        value: object = raw
        if dtype in ("int", "bigint", "smallint", "tinyint"):
            value = int(raw)
        elif dtype in ("double", "float"):
            value = float(raw)
        indicator = F.when(F.col(col).isNull(), 1).otherwise(0)
        return df.withColumn(f"imputerCol_{col}", indicator).na.fill({col: value})


def build_tokenizer(input_col: str, output_col: str, pattern: str = r"\s+") -> RegexTokenizer:
    """Final String→Array tokenizer (``PreprocessingEngine.scala:328-336``):
    stock RegexTokenizer splitting on the user pattern OR the internal
    ``~SP~`` delimiter, lowercase disabled."""
    return RegexTokenizer(
        inputCol=input_col,
        outputCol=output_col,
        pattern=f"{pattern}|({TOKEN_DELIMITER})",
        toLowercase=False,
    )


def build_preprocessing_chain(step: dict) -> tuple[list, str, bool]:
    """Build the transformer chain for ONE config preprocessing step —
    the reference's ``experiment.preprocessing.steps`` entry
    (``PreprocessingStageLoader.scala:60-202``):

        {"inputVariable": "url", "outputVariable": "url1",
         "transformations": [{"type": "nullcheck", "parameter": ""},
                             {"type": "case_normalization"},
                             {"type": "tokenizer", "parameter": "/"}]}

    Returns ``(stages, final_col, tokenized)`` where ``final_col`` is
    the column downstream vectorization should read and ``tokenized``
    says whether it is already an ``array<string>`` (chain ended in the
    final String→Array ``tokenizer``, so the vectorizer must NOT
    re-tokenize).  Intermediate columns are ``<out>__p<i>``; the last
    transformation writes ``outputVariable``.
    """
    inp = step["inputVariable"]
    out = step.get("outputVariable", f"{inp}__prep")
    transformations = step.get("transformations", [])
    if not transformations:
        raise ValueError(f"preprocessing step for {inp!r} has no transformations")
    stages: list = []
    cur = inp
    tokenized = False
    for i, t in enumerate(transformations):
        ttype = t.get("type")
        param = t.get("parameter")
        last = i == len(transformations) - 1
        nxt = out if last else f"{out}__p{i}"
        if ttype == "nullcheck":
            # imputes IN PLACE (adds the imputerCol_ indicator); no new col
            stages.append(NullImputer(inputCol=cur, fillValue=param or ""))
            continue
        if ttype == "tokenizer":
            if not last:
                raise ValueError(
                    "tokenizer must be the LAST transformation "
                    f"(step for {inp!r}) — it is the String->Array boundary"
                )
            stages.append(build_tokenizer(cur, nxt, pattern=param or r"\s+"))
            tokenized = True
        elif ttype == "case_normalization":
            stages.append(CaseNormalizer(inputCol=cur, outputCol=nxt))
        elif ttype == "sentence_marker":
            stages.append(SentenceMarker(inputCol=cur, outputCol=nxt))
        elif ttype == "stopwords":
            stages.append(
                StopwordRemover(inputCol=cur, outputCol=nxt, stopwords=list(param or []))
            )
        elif ttype == "stemming":
            stages.append(
                PorterStemmer(inputCol=cur, outputCol=nxt, exceptions=list(param or []))
            )
        elif ttype in ("word_substitutions", "word_substitution"):
            stages.append(
                WordSubstituter(inputCol=cur, outputCol=nxt, dictionary=param or {})
            )
        elif ttype == "word_classes_replacement":
            pats, reps = word_class_patterns(param or {})
            stages.append(
                RegexReplacer(inputCol=cur, outputCol=nxt, patterns=pats, replacements=reps)
            )
        elif ttype == "regex_replacement":
            pats = [p["pattern"] for p in (param or [])]
            reps = [p["replacement"] for p in (param or [])]
            stages.append(
                RegexReplacer(inputCol=cur, outputCol=nxt, patterns=pats, replacements=reps)
            )
        elif ttype == "regex_removal":
            stages.append(
                RegexRemover(inputCol=cur, outputCol=nxt, patterns=list(param or []))
            )
        else:
            raise ValueError(f"unknown preprocessing transformation type {ttype!r}")
        cur = nxt
    return stages, cur, tokenized
