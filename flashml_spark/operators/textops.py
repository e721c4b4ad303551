"""Text-analysis operators for training-data pipelines.

All pure column expressions (whole-stage codegen; no Python in the hot
path): token counting, quality scoring, n-gram-heuristic language ID,
document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flashml_spark.functions import hashing as H

# Budget for the corpus-payload tokenize pins below (r11 verdict item 5
# / r12 item 7): a localCheckpoint materializes the WHOLE tokenized
# corpus to executor-local disk and forfeits lineage recovery — the
# right trade when it replaces ~4 corpus re-reads at bench scale, the
# wrong one when the frame is 100 TB (a lost executor then kills the
# job instead of recomputing).  The gate reads the Catalyst-estimated
# size of the frame (driver-side statistics, no job) and skips the pin
# past the budget, falling back to plain per-consumer recomputation —
# the same bounded-fast-path posture as the driver solves.  The budget
# is far above every test scale, so bench behavior is unchanged, and
# far below any corpus where local-disk pinning would be unsafe.
_PIN_MAX_BYTES_DEFAULT = 32 << 30


def _bounded_pin(frame: DataFrame) -> DataFrame:
    """``frame.localCheckpoint()`` when its Catalyst-estimated size fits
    the executor-local-disk budget, ``frame`` unchanged (lineage-safe
    recompute per consumer) past it.  Estimate unavailable -> pin (the
    status quo for every in-repo caller, whose inputs are parquet scans
    with file-size statistics).  RDD-backed inputs such as
    ``createDataFrame(list)`` report ``spark.sql.defaultSizeInBytes``
    (Long.MaxValue) rather than a size, so an estimate at or above it
    counts as unavailable."""
    unknown = (
        frame.sparkSession._jsparkSession.sessionState().conf().defaultSizeInBytes()
    )
    try:
        est = int(
            frame._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # pragma: no cover - stats are best-effort
        est = -1
    if _PIN_MAX_BYTES_DEFAULT < est < unknown:
        return frame
    return frame.localCheckpoint()


# Tiny high-frequency stopword lists for the language-ID heuristic.
# (A production run swaps in larger lists; the mechanism is identical.)
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "den"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "dans", "que"],
    "es": ["el", "la", "de", "que", "y", "los", "en", "un", "una", "es"],
}


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(H.tokens(text))


def with_token_count(df: DataFrame, text_col: str, out_col: str = "n_tokens") -> DataFrame:
    return df.withColumn(out_col, token_count(F.col(text_col)))


def _char_class_ratio(text: Column, pattern: str) -> Column:
    """Fraction of characters matching a regex class; 0.0 for empty text
    (guarded — Spark 4 ANSI mode raises DIVIDE_BY_ZERO otherwise)."""
    stripped = F.regexp_replace(text, pattern, "")
    n = F.length(text)
    return F.when(n > 0, (n - F.length(stripped)).cast("double") / n).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are sentence punctuation."""
    return _char_class_ratio(text, r"[.,!?;:]")


def digit_ratio(text: Column) -> Column:
    return _char_class_ratio(text, r"[0-9]")


def mean_word_length(text: Column) -> Column:
    toks = H.tokens(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return total.cast("double") / F.size(toks)


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    toks = H.tokens(text)
    sw = LANG_STOPWORDS[lang]
    hits = F.size(F.filter(toks, lambda t: t.isin(*sw)))
    return hits.cast("double") / F.size(toks)


def quality_score(text: Column) -> Column:
    """Composite document-quality heuristic in [0, ~1]:

      0.4 * length_score   (saturating at 200 tokens)
    + 0.2 * stopword_score (en stopword ratio, saturating at 0.3)
    + 0.2 * word_len_score (1 if mean word length in [3, 10])
    + 0.2 * (1 - penalty)  (punctuation+digit excess)

    The exact weights mirror the length/punct/stopword-ratio family of
    quality filters used in large-scale corpus curation.
    """
    n_tok = token_count(text).cast("double")
    length_score = F.least(n_tok / 200.0, F.lit(1.0))
    sw_score = F.least(stopword_ratio(text) / 0.3, F.lit(1.0))
    mwl = mean_word_length(text)
    wl_score = F.when((mwl >= 3.0) & (mwl <= 10.0), 1.0).otherwise(0.0)
    penalty = F.least(punct_ratio(text) * 2.0 + digit_ratio(text) * 2.0, F.lit(1.0))
    return (
        0.4 * length_score + 0.2 * sw_score + 0.2 * wl_score + 0.2 * (1.0 - penalty)
    )


def with_quality_score(df: DataFrame, text_col: str, out_col: str = "quality") -> DataFrame:
    return df.withColumn(out_col, F.round(quality_score(F.col(text_col)), 6))


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword-hit fraction."""
    toks = H.tokens(text)
    n = F.size(toks).cast("double")

    def hit_frac(sw: list[str]):
        # single-param lambda only: pyspark maps every positional param
        # (even defaulted) to a lambda variable
        return F.size(F.filter(toks, lambda t: t.isin(*sw))).cast("double") / n

    return {lang: hit_frac(sw) for lang, sw in LANG_STOPWORDS.items()}


def predict_lang(text: Column, min_ratio: float = 0.05) -> Column:
    """Argmax language by stopword-hit ratio; 'und' (undetermined) when the
    best ratio is below ``min_ratio``.  Ties broken by language-code order
    (deterministic, engine-portable via strictly-greater chain)."""
    scores = lang_scores(text)
    best_lang = F.lit("und")
    best_score = F.lit(min_ratio).cast("double")
    # iterate in sorted order; strict > keeps the earlier language on ties
    for lang in sorted(scores):
        s = scores[lang]
        is_better = s > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, s).otherwise(best_score)
    return best_lang


def with_lang_id(df: DataFrame, text_col: str, out_col: str = "pred_lang") -> DataFrame:
    return df.withColumn(out_col, predict_lang(F.col(text_col)))


def fingerprint(text: Column) -> Column:
    """Normalized content fingerprint: md5 of lowercase, whitespace-collapsed
    text.  The canonical key for fuzzy-exact dedup across formatting."""
    normalized = F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))
    return H.md5_hex(normalized)


def with_fingerprint(df: DataFrame, text_col: str, out_col: str = "fp") -> DataFrame:
    return df.withColumn(out_col, fingerprint(F.col(text_col)))


# --- cleanup / normalization (LLM training-data prep; pure regexp map) ----

URL_PATTERN = r"https?://\S+"
HTML_TAG_PATTERN = r"<[^>]+>"
CONTROL_PATTERN = r"[\x00-\x08\x0b\x0c\x0e-\x1f]"


def strip_urls(text: Column, replacement: str = " ") -> Column:
    return F.regexp_replace(text, URL_PATTERN, replacement)


def strip_html_tags(text: Column, replacement: str = " ") -> Column:
    return F.regexp_replace(text, HTML_TAG_PATTERN, replacement)


def strip_control_chars(text: Column) -> Column:
    return F.regexp_replace(text, CONTROL_PATTERN, "")


def squeeze_repeats(text: Column, max_run: int = 3) -> Column:
    """Clamp runs of the same character to ``max_run`` (e.g. 'soooooo' →
    'sooo') — standard crawl-noise cleanup."""
    return F.regexp_replace(text, rf"(.)\1{{{max_run},}}", "$1" * max_run)


def collapse_whitespace(text: Column) -> Column:
    return F.trim(F.regexp_replace(text, r"\s+", " "))


def normalize_text(text: Column) -> Column:
    """Full cleanup chain: control chars → urls → html → repeat squeeze →
    whitespace collapse.  One fused projection, whole-stage codegen'd —
    zero shuffles at any scale."""
    return collapse_whitespace(
        squeeze_repeats(strip_html_tags(strip_urls(strip_control_chars(text))))
    )


def with_normalized_text(df: DataFrame, text_col: str, out_col: str = "norm_text") -> DataFrame:
    return df.withColumn(out_col, normalize_text(F.col(text_col)))


# --- corpus-level statistics -----------------------------------------------


def shingle_doc_frequency(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, top_k: int = 20
) -> DataFrame:
    """Top-``top_k`` word n-gram shingles by DOCUMENT frequency (distinct
    docs containing the shingle) — the corpus scan that calibrates the
    ``max_df`` stop-shingle cap in :func:`dedup.ngram_jaccard_pairs`.

    Plan: per-doc distinct shingles (``array_distinct``, no shuffle) →
    explode → one hash agg on shingle → ``TakeOrderedAndProject`` for the
    top-k (per-partition heaps; never a global sort).  Ties broken by
    shingle text so the result is deterministic.
    """
    shingles = H.word_ngrams(H.tokens(F.col(text_col)), n)
    exploded = df.select(
        F.col(id_col), F.explode(F.array_distinct(shingles)).alias("shingle")
    )
    return (
        exploded.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("shingle"))
        .limit(top_k)
    )


# --- composite keep/drop filter --------------------------------------------


def quality_filter_verdict(
    df: DataFrame,
    text_col: str,
    lang_col: str | None = None,
    min_tokens: int = 5,
    max_tokens: int = 5000,
    min_quality: float = 0.5,
) -> DataFrame:
    """Corpus curation verdict: first-failing-check reason per document
    (``too_short`` | ``too_long`` | ``low_quality`` | ``lang_mismatch`` |
    ``ok``) plus a ``keep`` flag.  Composes the token-count, quality-score
    and language-ID operators into the single fused projection a cleaning
    pipeline runs before dedup — still zero shuffles, whole-stage codegen.

    The quality check compares the ROUNDED (6 dp) score so the decision
    boundary is bit-identical to the SQL oracle.
    """
    text = F.col(text_col)
    n_tok = token_count(text)
    quality = F.round(quality_score(text), 6)
    reason = F.when(n_tok < min_tokens, "too_short").when(
        n_tok > max_tokens, "too_long"
    ).when(quality < min_quality, "low_quality")
    if lang_col is not None:
        reason = reason.when(predict_lang(text) != F.col(lang_col), "lang_mismatch")
    reason = reason.otherwise("ok")
    return df.withColumn("reason", reason).withColumn("keep", F.col("reason") == "ok")


# --- corpus statistics ------------------------------------------------------


def repetition_ratio(text: Column, n: int = 2) -> Column:
    """Within-document duplicate n-gram fraction: 1 - |distinct n-grams| /
    |n-grams| (0.0 for documents with fewer than ``n`` tokens).  A standard
    quality signal for filtering boilerplate / keyboard-mash documents
    (high ratio ⇒ heavy internal repetition).  Pure per-row array HOFs —
    zero shuffle, whole-stage codegen."""
    grams = H.word_ngrams(H.tokens(text), n)
    total = F.size(grams)
    return F.when(
        total > 0,
        F.round(1.0 - F.size(F.array_distinct(grams)) / total.cast("double"), 6),
    ).otherwise(F.lit(0.0))


def with_repetition_ratio(
    df: DataFrame, text_col: str, n: int = 2, out_col: str = "rep_ratio"
) -> DataFrame:
    return df.withColumn(out_col, repetition_ratio(F.col(text_col), n))


def token_topk_per_group(
    df: DataFrame, text_col: str, group_col: str, k: int = 10
) -> DataFrame:
    """Top-k most frequent tokens per group (e.g. per language): explode →
    hash-agg on (group, token) — map-side partial aggregation absorbs the
    explode fan-out — then a per-group ranked window over the aggregated
    (group, token) counts.  The window partitions by group over COUNTS
    (bounded by vocabulary size, not corpus size), so one group's vocab fits
    a task even when its documents don't.  Ties break token-ascending.
    Output: ``<group_col>, token, n, rn``."""
    from flashml_spark.operators.relational import top_n_per_group

    counts = (
        df.select(F.col(group_col), F.explode(H.tokens(F.col(text_col))).alias("token"))
        .groupBy(group_col, "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return top_n_per_group(
        counts, [group_col], "n", k, descending=True, tiebreak_cols=["token"]
    )


def pack_shards(
    df: DataFrame,
    id_col: str,
    token_col: str,
    capacity: int,
    out_col: str = "shard",
) -> DataFrame:
    """Sequence packing for training shards: assign documents, in
    deterministic ``id_col`` order, to fixed-capacity shards by cumulative
    token count — ``shard = floor(exclusive_cumsum(tokens) / capacity)``.

    The cumulative sum runs through ``global_cumsum`` (range-partitioned
    prefix sums — |partitions| scalars to the driver), so packing a 100 TB
    corpus never funnels into a one-task window.  Contract: shards are
    contiguous in id order and every shard's token total is >= capacity
    only when a single straddling document pushes it over.
    """
    from flashml_spark.functions.windows import global_cumsum

    cum = global_cumsum(df, id_col, [token_col], ascending=True)
    return cum.withColumn(
        out_col,
        F.floor((F.col(f"cum_{token_col}") - F.col(token_col)) / capacity).cast("bigint"),
    ).drop(f"cum_{token_col}")


def pattern_counts(
    df: DataFrame, text_col: str, pattern: str, group_col: str
) -> DataFrame:
    """Per-group scrub statistics for a regex (the PII-redaction counting
    pass): documents containing the pattern and total match occurrences.
    Pure JVM ``regexp_count`` — the same scan that would feed
    ``regexp_replace`` redaction, kept codegen-side.
    Output: ``<group_col>, n_docs_hit, n_matches``."""
    hits = F.regexp_count(F.col(text_col), F.lit(pattern))
    return (
        df.select(F.col(group_col), hits.alias("__hits"))
        .groupBy(group_col)
        .agg(
            F.sum(F.when(F.col("__hits") > 0, 1).otherwise(0)).alias("n_docs_hit"),
            F.sum("__hits").alias("n_matches"),
        )
    )


def bigram_conditional_topk(
    df: DataFrame, text_col: str, group_col: str, k: int = 5
) -> DataFrame:
    """Per-group top-k bigrams with conditional probability
    ``p = c(w1,w2) / c(w1,·)`` — the count pass of n-gram language-model
    training.  One explode → hash-agg (map-side partials absorb the
    fan-out), then ``c(w1,·)`` is re-aggregated FROM the bigram counts
    (vocabulary-sized, not corpus-sized) and joined back on (group, w1).
    The ranking window partitions by group over counts bounded by
    vocabulary size.  Ties break (w1, w2) ascending.
    Output: ``<group_col>, w1, w2, c, p, rn``."""
    from flashml_spark.operators.relational import top_n_per_group

    grams = df.select(
        F.col(group_col),
        F.explode(H.word_ngrams(H.tokens(F.col(text_col)), 2)).alias("g"),
    ).select(
        group_col,
        F.split_part(F.col("g"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("g"), F.lit(" "), F.lit(2)).alias("w2"),
    )
    counts = grams.groupBy(group_col, "w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    w1_totals = counts.groupBy(group_col, "w1").agg(F.sum("c").alias("c_w1"))
    ranked = top_n_per_group(
        counts, [group_col], "c", k, descending=True, tiebreak_cols=["w1", "w2"]
    )
    return ranked.join(w1_totals, [group_col, "w1"]).select(
        group_col,
        "w1",
        "w2",
        "c",
        F.round(F.col("c") / F.col("c_w1"), 6).alias("p"),
        "rn",
    )


# GPT-2-style pre-tokenizer shape WITHOUT lookaheads (portable across Java
# regex and RE2): letter runs | single digits | single non-alphanumerics.
BPE_ISH_PATTERN = "[a-z]+|[0-9]|[^a-z0-9 ]"


def bpe_token_count(text: Column, pattern: str = BPE_ISH_PATTERN) -> Column:
    """Sub-word-ish token count: regex pre-tokenization (letter runs split
    from digits/punctuation), the standard first stage of BPE tokenizers.
    Whitespace counting under-counts code/punctuation-heavy documents; this
    is the cheap JVM-side proxy for a real tokenizer's budget estimate."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pattern), 0))


def with_bpe_token_count(
    df: DataFrame, text_col: str, out_col: str = "n_bpe_tokens"
) -> DataFrame:
    return df.withColumn(out_col, bpe_token_count(F.col(text_col)))


def lm_doc_nll(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document bigram negative log-likelihood under the corpus's own
    bigram model — the KenLM-style perplexity-proxy quality signal:
    ``nll = avg(-ln p(w2|w1))`` over the document's bigrams, where
    ``p(w2|w1) = c(w1,w2) / c(w1,·)`` from the whole corpus.

    Shape: one explode to bigram instances (map-side partials absorb it),
    corpus counts + w1 marginals are vocabulary-sized frames joined back on
    (w1, w2) — broadcast-able dims, never a per-row window.  Documents with
    no bigrams are dropped (no tokens to score).
    Output: ``<id_col>, n_bigrams, nll``."""
    inst = df.select(
        F.col(id_col),
        F.explode(H.word_ngrams(H.tokens(F.col(text_col)), 2)).alias("g"),
    ).select(
        id_col,
        F.split_part(F.col("g"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("g"), F.lit(" "), F.lit(2)).alias("w2"),
    )
    counts = inst.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("w1").agg(F.sum("c").alias("c_w1"))
    probs = counts.join(totals, "w1").select(
        "w1", "w2", (F.col("c") / F.col("c_w1")).alias("p")
    )
    return (
        inst.join(probs, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(-F.log("p")), 6).alias("nll"),
        )
    )


def curate_and_pack(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lang_col: str | None = None,
    capacity: int = 512,
    min_tokens: int = 5,
    max_tokens: int = 5000,
    min_quality: float = 0.5,
    keep_columns: list[str] | None = None,
) -> DataFrame:
    """The flagship curation pipeline, end-to-end: quality/language filter
    (fused codegen projection) → exact dedup keep-min (digest groupBy +
    co-partitioned semi-join) → fixed-capacity shard packing
    (range-partitioned prefix sums).  Every stage is the engine's own
    operator; the composition stays one lazy Catalyst plan until the
    packing pass's offsets collect.

    The packing stage pins its range-partitioned frame (localCheckpoint),
    so only ``id_col, n_tokens`` plus ``keep_columns`` flow into it —
    carrying the full text through the checkpoint costs ~100× the bytes
    for nothing.  Join surviving ids back to the source for payloads.
    Output: ``<id_col>, n_tokens, shard`` (+ ``keep_columns``).

    One corpus pass (r11): verdict, content digest and token count are
    computed in a SINGLE fused projection and pinned NARROW (id, digest,
    n_tokens — never the text).  The naive composition re-executed the
    regex-heavy quality filter for each dedup branch (digest agg + the
    semi-join's probe side) and tokenized a third time for the count —
    three corpus passes where one suffices (guide §1.2-1).  The dedup
    keep-min then runs entirely on the pinned narrow blocks with
    ``exact_dedup``'s exact semantics (digest groupBy keep-min + semi
    join on the keeper ids)."""
    kept = (
        quality_filter_verdict(
            df, text_col, lang_col, min_tokens, max_tokens, min_quality
        )
        .filter(F.col("keep"))
        .select(
            F.col(id_col),
            H.md5_hex(F.col(text_col)).alias("__h"),
            token_count(F.col(text_col)).alias("n_tokens"),
            *(keep_columns or []),
        )
        .localCheckpoint(eager=False)
    )
    keepers = kept.groupBy("__h").agg(F.min(id_col).alias(id_col)).select(id_col)
    counted = kept.join(keepers, on=id_col, how="left_semi").select(
        id_col, "n_tokens", *(keep_columns or [])
    )
    return pack_shards(counted, id_col, "n_tokens", capacity)


def vocab_coverage(
    df: DataFrame,
    text_col: str,
    group_col: str,
    coverage: float = 0.95,
) -> DataFrame:
    """Tokenizer-prep vocabulary sizing: per group, the smallest
    frequency-ranked vocabulary covering ``coverage`` of all token
    occurrences (plus corpus totals).  Counts aggregate map-side off the
    explode; the ranked cumulative runs per group over the VOCABULARY
    (bounded by distinct words, not corpus size).  Rank ties break
    word-ascending; the resulting vocab size is order-invariant within a
    tie group (every tied word contributes the same count).
    Output: ``<group_col>, vocab_size, distinct_words, total_tokens``."""
    from pyspark.sql import Window as W

    counts = (
        df.select(F.col(group_col), F.explode(H.tokens(F.col(text_col))).alias("w"))
        .groupBy(group_col, "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = W.partitionBy(group_col).orderBy(F.desc("c"), F.asc("w"))
    ranked = counts.select(
        group_col,
        "c",
        F.row_number().over(w).alias("rn"),
        F.sum("c").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cum"),
    )
    totals = counts.groupBy(group_col).agg(
        F.sum("c").alias("total_tokens"),
        F.count(F.lit(1)).alias("distinct_words"),
    )
    return (
        ranked.join(F.broadcast(totals), group_col)
        .filter(F.col("cum") >= coverage * F.col("total_tokens"))
        .groupBy(group_col, "total_tokens", "distinct_words")
        .agg(F.min("rn").alias("vocab_size"))
        .select(
            group_col,
            F.col("vocab_size").cast("bigint").alias("vocab_size"),
            F.col("distinct_words").cast("bigint").alias("distinct_words"),
            F.col("total_tokens").cast("bigint").alias("total_tokens"),
        )
    )


def token_entropy(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (nats) — low
    entropy flags keyboard-mash/boilerplate, high entropy flags noise.
    Explode → (doc, token) counts → one agg with the plug-in estimator
    ``-Σ (c/n) ln (c/n)``; both shuffles key on the doc id, so AQE
    co-partitions them.  Docs with no tokens are dropped.
    Output: ``<id_col>, n_tokens, entropy``."""
    counts = (
        df.select(F.col(id_col), F.explode(H.tokens(F.col(text_col))).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * F.log("c")).alias("__clogc"),
        )
        .select(
            id_col,
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            # -Σ (c/n) ln(c/n) = ln n - (Σ c ln c)/n
            F.round(
                F.log("n_tokens") - F.col("__clogc") / F.col("n_tokens"), 6
            ).alias("entropy"),
        )
    )


def source_vocab_overlap(df: DataFrame, text_col: str, group_col: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between groups (corpus-diversity audit):
    distinct (group, token) sets, token-keyed self-join for intersections,
    |groups|²-bounded output.  The join key is the token, so a hot token
    costs |groups|² per token — bounded by the group count, not the corpus.
    Output: ``g_a, g_b, common, size_a, size_b, jaccard``."""
    vocab = (
        df.select(F.col(group_col).alias("g"), F.explode(H.tokens(F.col(text_col))).alias("w"))
        .distinct()
    )
    sizes = vocab.groupBy("g").agg(F.count(F.lit(1)).alias("size"))
    a = vocab.select(F.col("g").alias("g_a"), "w")
    b = vocab.select(F.col("g").alias("g_b"), "w")
    common = (
        a.join(b, "w")
        .filter(F.col("g_a") < F.col("g_b"))
        .groupBy("g_a", "g_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("g").alias("g_a"), F.col("size").alias("size_a"))
    sb = sizes.select(F.col("g").alias("g_b"), F.col("size").alias("size_b"))
    jac = F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common"))
    return (
        common.join(F.broadcast(sa), "g_a")
        .join(F.broadcast(sb), "g_b")
        .select(
            "g_a", "g_b", "common", "size_a", "size_b",
            F.round(jac, 6).alias("jaccard"),
        )
    )


def boilerplate_fraction(
    df: DataFrame, text_col: str, id_col: str, n: int = 8
) -> DataFrame:
    """Cross-document boilerplate signal: the fraction of a document's
    distinct n-token windows that also appear in at least one OTHER
    document (headers/footers/navigation chrome repeat across docs;
    within-doc repetition is x49's separate axis).

    Shape: per-doc DISTINCT windows (explode + groupBy), window document
    frequency (groupBy window), join back on the window key — all hash
    aggs on bounded keys; the hot-window skew is capped by the DISTINCT
    step (a window counts once per doc).
    Output: ``<id_col>, n_windows, shared, bp_frac``."""
    wins = (
        df.select(
            F.col(id_col),
            F.explode(H.word_ngrams(H.tokens(F.col(text_col)), n)).alias("w"),
        )
        .distinct()
    )
    docfreq = wins.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    return (
        wins.join(docfreq, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias("shared"),
        )
        .select(
            id_col,
            F.col("n_windows").cast("bigint").alias("n_windows"),
            F.col("shared").cast("bigint").alias("shared"),
            F.round(F.col("shared") / F.col("n_windows"), 6).alias("bp_frac"),
        )
    )


def mixture_weights(
    df: DataFrame,
    text_col: str,
    source_col: str,
    targets: dict[str, float] | None = None,
) -> DataFrame:
    """Per-source resampling weights for training-mixture control: given
    each source's actual token share and a TARGET share (uniform when
    ``targets`` is None), the weight ``target/actual`` is the sampling
    rate multiplier that reshapes the corpus to the target mixture — the
    knob a data-mixing pipeline turns (e.g. up-weight underrepresented
    sources).

    One token-count agg (|sources| rows), totals broadcast back via a
    1-row cross join.  Output: ``<source_col>, tokens, actual_share,
    target_share, weight`` (shares and weight rounded to 6).
    """
    counted = df.select(
        F.col(source_col), token_count(F.col(text_col)).alias("__t")
    )
    per_src = counted.groupBy(source_col).agg(F.sum("__t").alias("tokens"))
    total = per_src.agg(F.sum("tokens").alias("__total"))
    n_src = per_src.agg(F.count(F.lit(1)).alias("__n"))
    out = per_src.crossJoin(F.broadcast(total)).crossJoin(F.broadcast(n_src))
    if targets is None:
        target = 1.0 / F.col("__n")
    else:
        target = F.coalesce(
            F.create_map(
                *[F.lit(x) for kv in targets.items() for x in kv]
            )[F.col(source_col)],
            F.lit(0.0),
        )
    actual = F.col("tokens") / F.col("__total")
    return out.select(
        source_col,
        F.col("tokens").cast("bigint").alias("tokens"),
        F.round(actual, 6).alias("actual_share"),
        F.round(target, 6).alias("target_share"),
        F.round(target / actual, 6).alias("weight"),
    )


def pmi_top_pairs(
    df: DataFrame, text_col: str, k: int = 20, min_count: int = 5
) -> DataFrame:
    """Top-k adjacent-word pairs by pointwise mutual information
    ``ln(p(w1,w2) / (p(w1) p(w2)))`` — collocation mining for tokenizer /
    phrase-vocabulary induction.  ``min_count`` floors the bigram count so
    rare co-occurrences can't dominate the ranking.

    All frames after the explode are VOCABULARY-sized: bigram counts from
    one hash agg, unigram counts re-aggregated from a second explode, the
    two joins keyed on single words (broadcast-able for real vocabularies).
    Final top-k is a TakeOrdered, not a global sort.  Ties break (w1, w2)
    ascending.  Output: ``w1, w2, c, pmi``.
    """
    toks = df.select(H.tokens(F.col(text_col)).alias("__toks"))
    grams = toks.select(F.explode(H.word_ngrams(F.col("__toks"), 2)).alias("g"))
    bi = (
        grams.select(
            F.split_part(F.col("g"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("g"), F.lit(" "), F.lit(2)).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
    )
    uni = (
        toks.select(F.explode(F.col("__toks")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    n_bi = grams.agg(F.count(F.lit(1)).alias("__nb"))
    n_uni = uni.agg(F.sum("cw").alias("__nu"))
    joined = (
        bi.join(F.broadcast(uni.withColumnRenamed("w", "w1")
                               .withColumnRenamed("cw", "c1")), "w1")
        .join(F.broadcast(uni.withColumnRenamed("w", "w2")
                             .withColumnRenamed("cw", "c2")), "w2")
        .crossJoin(F.broadcast(n_bi))
        .crossJoin(F.broadcast(n_uni))
    )
    pmi = F.log(
        (F.col("c") / F.col("__nb"))
        / ((F.col("c1") / F.col("__nu")) * (F.col("c2") / F.col("__nu")))
    )
    scored = joined.select("w1", "w2", "c", F.round(pmi, 6).alias("pmi"))
    return scored.orderBy(
        F.desc("pmi"), F.asc("w1"), F.asc("w2")
    ).limit(k)


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_size: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Split documents into fixed-token training chunks with overlap
    (stride < chunk_size): the standard context-window packing pass before
    tokenized-example writing.  Pure per-row array work — token array,
    ``sequence`` of chunk starts, posexplode, slice — zero shuffle; chunk
    count per doc is ceil(n/stride), so output scales with corpus tokens,
    never with a join.

    Output: ``<id_col>, chunk_idx, n_tok, head`` (head = first token, an
    engine-portable content probe).
    """
    toks = H.tokens(F.col(text_col))
    staged = df.select(F.col(id_col), toks.alias("__toks"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(F.col("__toks")) - 1, F.lit(0)),
        F.lit(stride),
    )
    ex = staged.select(
        F.col(id_col),
        F.col("__toks"),
        F.posexplode(starts).alias("chunk_idx", "__s"),
    )
    chunk = F.slice(F.col("__toks"), F.col("__s") + 1, chunk_size)
    return ex.select(
        F.col(id_col),
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.size(chunk).cast("bigint").alias("n_tok"),
        F.element_at(chunk, 1).alias("head"),
    )


# Default PII patterns: RE2-compatible (no backrefs/lookaround) so the
# exact same pattern string runs in Spark (Java regex) and engine oracles
# (DuckDB/RE2).  Replacement order is irrelevant — match domains are
# disjoint by construction (emails need '@', phones are digit-dash runs,
# IPv4 needs three dots between digit runs a phone can't produce).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "phone": (r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
}


def scrub_pii(
    df: DataFrame,
    text_col: str,
    out_col: str = "scrubbed",
    patterns: dict[str, tuple[str, str]] | None = None,
) -> DataFrame:
    """Redact personally identifiable substrings before training-data
    release: each configured kind is counted (``n_<kind>``, from the
    ORIGINAL text) and replaced with its placeholder token in ``out_col``.

    Pure per-row codegen (`regexp_count` + chained `regexp_replace`) —
    zero shuffle, scales as a map stage.  Patterns must stay in the
    RE2-compatible subset so audit oracles can replay them.
    """
    pats = PII_PATTERNS if patterns is None else patterns
    out = df
    scrubbed = F.col(text_col)
    for kind, (pat, rep) in pats.items():
        out = out.withColumn(
            f"n_{kind}", F.regexp_count(F.col(text_col), F.lit(pat)).cast("bigint")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, rep)
    return out.withColumn(out_col, scrubbed)


def char_ngram_group_cosine(
    df: DataFrame, text_col: str, group_col: str, n: int = 3
) -> DataFrame:
    """Pairwise cosine similarity between per-group character-n-gram
    count profiles — the classic writing-system / language proximity
    audit (e.g. how close two sources' or languages' character
    distributions are, a drift signal when a crawl's language mix shifts).

    Every frame after the explode is VOCABULARY-sized (≤ |charset|^n
    grams per group): one hash agg builds the profiles, the pair dot
    products join profile-to-profile on the gram key (|groups|²-bounded
    output), and norms join back broadcast.  Counts are exact integers,
    so the cosine is reproducible bit-for-bit across engines.
    Output: ``ga, gb, cos`` with ``ga < gb``.
    """
    t = F.col(text_col)
    grams = (
        df.filter(F.length(t) >= n)
        .select(
            F.col(group_col).alias("__g"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length(t) - (n - 1)),
                    lambda i: t.substr(i, F.lit(n)),
                )
            ).alias("gram"),
        )
    )
    prof = grams.groupBy("__g", "gram").agg(F.count(F.lit(1)).alias("c"))
    norms = prof.groupBy("__g").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm")
    )
    a = prof.select(F.col("__g").alias("ga"), "gram", F.col("c").alias("__ca"))
    b = prof.select(F.col("__g").alias("gb"), "gram", F.col("c").alias("__cb"))
    dots = (
        a.join(b, "gram")
        .filter(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(F.sum(F.col("__ca") * F.col("__cb")).alias("__dot"))
    )
    na = F.broadcast(norms.select(F.col("__g").alias("ga"), F.col("nrm").alias("__na")))
    nb = F.broadcast(norms.select(F.col("__g").alias("gb"), F.col("nrm").alias("__nb")))
    return (
        dots.join(na, "ga")
        .join(nb, "gb")
        .select(
            "ga",
            "gb",
            F.round(F.col("__dot") / (F.col("__na") * F.col("__nb")), 6).alias("cos"),
        )
    )


def zipf_slope(df: DataFrame, text_col: str, top_n: int = 500) -> DataFrame:
    """Zipf-law fit over the corpus token-frequency distribution: the
    least-squares slope of log(frequency) against log(rank) for the top
    ``top_n`` tokens — a healthy natural-language corpus sits near -1;
    a slope collapsing toward 0 flags templated/boilerplate text, a
    steep slope flags a vocabulary dominated by a few tokens.

    explode → hash-agg to vocabulary counts (map-side partials absorb the
    fan-out), TakeOrdered to the top_n head (no global sort materializes),
    then rank + ``regr_slope`` over the top_n-row frame — driver-scale
    work is O(top_n) regardless of corpus size.
    Output: one row ``slope, intercept, n_ranks``."""
    counts = (
        df.select(F.explode(H.tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(top_n)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n"), F.asc("token"))
    ranked = counts.select(
        F.log(F.col("n").cast("double")).alias("__ln_n"),
        F.log(F.row_number().over(w).cast("double")).alias("__ln_r"),
    )
    return ranked.agg(
        F.round(F.regr_slope("__ln_n", "__ln_r"), 6).alias("slope"),
        F.round(F.regr_intercept("__ln_n", "__ln_r"), 6).alias("intercept"),
        F.count(F.lit(1)).cast("bigint").alias("n_ranks"),
    )


def doc_frequency_top(
    df: DataFrame, text_col: str, id_col: str, k: int = 20
) -> DataFrame:
    """Document-frequency head of the vocabulary: the k tokens present in
    the most documents, with their DF and smoothed IDF
    ``ln(N / (1 + df))`` — the data-driven stopword-candidate audit run
    before building retrieval features over a new corpus.

    Per-document token presence first (distinct over (doc, token) —
    two-level aggregation, the inner distinct absorbs within-document
    repetition map-side), then a token-level count and a TakeOrdered
    head.  Ties break token-ascending.  Output: ``token, df, idf``."""
    presence = df.select(
        F.col(id_col).alias("__d"), F.explode(H.tokens(F.col(text_col))).alias("token")
    ).distinct()
    n_docs = df.select(id_col).distinct().agg(F.count(F.lit(1)).alias("__n"))
    return (
        presence.groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            "df",
            F.round(F.log(F.col("__n") / (1 + F.col("df"))), 6).alias("idf"),
        )
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(k)
    )


def prefix_dup_stats(
    df: DataFrame, text_col: str, prefix_len: int = 120
) -> DataFrame:
    """Prefix-duplicate audit: group documents by a digest of their first
    ``prefix_len`` characters (lowercased) and summarize how much of the
    corpus shares an opening — catches mirror pages and templated intros
    that exact-hash dedup misses because tails differ.

    One hash agg on the digest, then a scalar rollup: number of duplicate
    prefix groups, documents inside them, surplus documents a
    keep-one-per-prefix pass would drop, and the largest group.
    Output: one row ``dup_groups, dup_docs, surplus_docs, max_group``."""
    digest = F.md5(F.lower(F.substring(F.col(text_col), 1, prefix_len)))
    groups = (
        df.select(digest.alias("__h"))
        .filter(F.col("__h").isNotNull())
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1)
    )
    return groups.agg(
        F.count(F.lit(1)).cast("bigint").alias("dup_groups"),
        F.coalesce(F.sum("__c"), F.lit(0)).cast("bigint").alias("dup_docs"),
        F.coalesce(F.sum(F.col("__c") - 1), F.lit(0)).cast("bigint").alias("surplus_docs"),
        F.coalesce(F.max("__c"), F.lit(0)).cast("bigint").alias("max_group"),
    )


def _bm25_scores(
    toks: DataFrame,
    keys: list[str],
    query_terms: list[str],
    k1: float,
    b: float,
) -> DataFrame:
    """BM25 core over an exploded ``(*keys, token)`` frame: ONE per-key
    hash agg folds unit length AND the per-query-term tfs into |Q|+1
    conditional-sum columns; global stats (N, avgdl, per-term dfs) are
    one more agg broadcast back as a 1-row dim.  Returns
    ``(*keys, bm25)`` for units containing >= 1 query term, scores
    rounded to 6 BEFORE any ranking a caller applies."""
    tf_cols = [
        F.sum((F.col("token") == t).cast("long")).alias(f"tf_{i}")
        for i, t in enumerate(query_terms)
    ]
    per_unit = toks.groupBy(*keys).agg(F.count(F.lit(1)).alias("dl"), *tf_cols)
    stats = per_unit.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long"))
            .cast("double")
            .alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )

    def contrib(i: int) -> Column:
        tf = F.col(f"tf_{i}").cast("double")
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
            + 1.0
        )
        denom = tf + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        return F.when(tf > 0, idf * tf * (k1 + 1.0) / denom).otherwise(F.lit(0.0))

    total = sum((contrib(i) for i in range(len(query_terms))), F.lit(0.0))
    return (
        per_unit.crossJoin(F.broadcast(stats))
        .where(
            sum(
                (F.col(f"tf_{i}") for i in range(len(query_terms))),
                F.lit(0).cast("long"),
            )
            > 0
        )
        .select(*keys, F.round(total, 6).alias("bm25"))
    )


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 full-text ranking of the corpus against a bag-of-words query
    (Robertson/Sparck-Jones with the Lucene ``ln(1 + (N-df+0.5)/(df+0.5))``
    idf), returning the top-``k`` documents.

    Scale shape: ONE pass — tokenize, explode, and the pivoted
    conditional-sum core (:func:`_bm25_scores`; the inverted-index
    posting intersection as aggregation, |Q| small by contract).  Final
    top-k is TakeOrderedAndProject (no global sort); ties break on
    ascending id.
    """
    toks = df.select(
        F.col(id_col), F.explode(H.tokens(F.col(text_col))).alias("token")
    ).where(F.col(text_col).isNotNull())
    scored = _bm25_scores(toks, [id_col], query_terms, k1, b)
    return scored.orderBy(F.col("bm25").desc(), F.col(id_col)).limit(k)


def chunk_bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    chunk_size: int = 32,
    stride: int = 24,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Retrieval-over-chunks e2e — the RAG indexing shape: split every
    document into overlapping fixed-token windows (same geometry as
    :func:`chunk_documents`), score each CHUNK as its own BM25 unit
    (chunk-level dl/df/avgdl — long documents can't drown a hit in
    off-topic mass), return the top-``k`` chunks with provenance.

    Scale shape: per-row chunking (sequence + posexplode + slice, zero
    shuffle) feeding the same pivoted BM25 core; one (doc, chunk) hash
    agg + a 1-row stats broadcast + TakeOrdered.  Output:
    ``id_col, chunk_idx, bm25`` (ties: id then chunk index).
    """
    toks0 = H.tokens(F.col(text_col))
    staged = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), toks0.alias("__toks")
    )
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(F.col("__toks")) - 1, F.lit(0)),
        F.lit(stride),
    )
    chunks = staged.select(
        F.col(id_col),
        F.posexplode(starts).alias("chunk_idx", "__s"),
        F.col("__toks"),
    ).select(
        F.col(id_col),
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.explode(F.slice(F.col("__toks"), F.col("__s") + 1, chunk_size)).alias(
            "token"
        ),
    )
    scored = _bm25_scores(chunks, [id_col, "chunk_idx"], query_terms, k1, b)
    return scored.orderBy(
        F.col("bm25").desc(), F.col(id_col), F.col("chunk_idx")
    ).limit(k)
def ngram_novelty(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's DISTINCT
    word n-grams that no earlier document (smaller id) contains — the
    "how much does this doc add to the corpus" curation score.  A gram is
    credited to the single document with the smallest id containing it.

    Scale shape: explode to distinct (id, gram) pairs, one ``min(id)``
    hash agg per gram, join back on the gram key, one agg per doc — every
    stage is keyed, no window, no driver state.  Documents with fewer
    than ``n`` tokens have no grams and drop out (documented).
    Output: ``id_col, n_grams, n_novel, novelty`` (rounded to 6).
    """
    grams = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.explode(H.word_ngrams(H.tokens(F.col(text_col)), n)).alias("gram"),
        )
        .distinct()
    )
    first = grams.groupBy("gram").agg(F.min(id_col).alias("first_id"))
    return (
        grams.join(first, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum((F.col("first_id") == F.col(id_col)).cast("long"))
            .cast("bigint")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.round(F.col("n_novel").cast("double") / F.col("n_grams"), 6),
        )
    )


def source_js_divergence(
    df: DataFrame, text_col: str, group_col: str
) -> DataFrame:
    """Jensen-Shannon divergence between the unigram token distributions
    of every pair of sources — the corpus-comparison audit that tells a
    curation run how far two slices have drifted (0 = identical, ln 2 =
    disjoint support).  Uses the MLE distributions with zero-fill on the
    union vocabulary; no smoothing is needed because the mixture m is
    positive wherever either side is.

    Scale shape: one (group, token) count agg over the corpus, a tiny
    broadcast totals dim, then two |pairs|x|vocab| keyed expansions
    full-outer-joined on (pair, token) — bounded by |groups|^2 x |vocab|,
    never by corpus size.  Output: ``src_a, src_b, jsd`` per unordered
    pair (rounded to 6).
    """
    tc = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(group_col).alias("g"),
            F.explode(H.tokens(F.col(text_col))).alias("token"),
        )
        .groupBy("g", "token")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    totals = tc.groupBy("g").agg(F.sum("n").alias("total"))
    pairs = (
        totals.select(F.col("g").alias("src_a"))
        .crossJoin(totals.select(F.col("g").alias("src_b")))
        .where(F.col("src_a") < F.col("src_b"))
    )
    ua = pairs.join(
        tc.select(F.col("g").alias("src_a"), "token", F.col("n").alias("na")),
        "src_a",
    )
    ub = pairs.join(
        tc.select(F.col("g").alias("src_b"), "token", F.col("n").alias("nb")),
        "src_b",
    )
    j = ua.join(ub, ["src_a", "src_b", "token"], "full_outer").select(
        "src_a",
        "src_b",
        F.coalesce("na", F.lit(0.0)).alias("na"),
        F.coalesce("nb", F.lit(0.0)).alias("nb"),
    )
    withp = (
        j.join(F.broadcast(totals.select(F.col("g").alias("src_a"), F.col("total").alias("ta"))), "src_a")
        .join(F.broadcast(totals.select(F.col("g").alias("src_b"), F.col("total").alias("tb"))), "src_b")
        .select(
            "src_a",
            "src_b",
            (F.col("na") / F.col("ta")).alias("p"),
            (F.col("nb") / F.col("tb")).alias("q"),
        )
    )
    m = (F.col("p") + F.col("q")) / 2.0
    term = F.when(F.col("p") > 0, 0.5 * F.col("p") * F.log(F.col("p") / m)).otherwise(
        F.lit(0.0)
    ) + F.when(F.col("q") > 0, 0.5 * F.col("q") * F.log(F.col("q") / m)).otherwise(
        F.lit(0.0)
    )
    return (
        withp.groupBy("src_a", "src_b")
        .agg(F.round(F.sum(term), 6).alias("jsd"))
    )


def _bpe_learn_driver(
    word_freqs: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """DRIVER-side mirror of the ``bpe_learn`` loop for bounded
    vocabularies — byte-for-byte the same semantics: the sentinel-spaced
    representation (``" a  b  c "``), adjacent-pair counts weighted by
    word frequency (every occurrence counts), argmax by (n DESC, pair
    ASC — Python code-point order == Spark UTF8 binary order for valid
    UTF-8), and a literal left-to-right non-overlapping replace (Python
    ``str.replace`` == Spark ``F.replace``).  Integer counts only, so
    the merge table is exactly the distributed loop's."""
    from collections import defaultdict

    words = [
        ("".join(f" {c} " for c in w), int(f)) for w, f in word_freqs
    ]
    merges: list[tuple[int, str, str, int]] = []
    for rnd in range(1, n_merges + 1):
        counts: dict[str, int] = defaultdict(int)
        for r, freq in words:
            syms = r.strip(" ").split("  ")
            for i in range(len(syms) - 1):
                counts[syms[i] + " " + syms[i + 1]] += freq
        if not counts:
            break
        pair, n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merged = pair.replace(" ", "")
        merges.append((rnd, pair, merged, int(n)))
        wrapped = " " + pair.replace(" ", "  ") + " "
        target = f" {merged} "
        words = [(r.replace(wrapped, target), f) for r, f in words]
    return merges


def bpe_learn(
    df: DataFrame,
    text_col: str,
    n_merges: int = 5,
    word_freq: DataFrame | None = None,
    driver_vocab_budget: int = 200_000,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merge rules from the corpus — the
    tokenizer-training loop (Sennrich et al.) as a distributed DataFrame
    program.  Each round counts adjacent symbol pairs over the
    word-frequency table (every adjacent occurrence counts, the canonical
    get_stats convention), picks the most frequent pair (ties: ascending
    pair string), and merges it greedily left-to-right in every word.

    Words are carried with every symbol wrapped in its OWN sentinel
    spaces (``" a  b  c "`` — adjacent symbols are separated by TWO
    spaces), so a merge is one literal
    ``replace(' a  b ' -> ' ab ')``.  Because each match consumes only
    its own wrapper spaces — never a neighbor's — a single
    non-overlapping left-to-right replace is EXACTLY canonical greedy
    BPE: disjoint adjacent occurrences all merge in one round
    (``a b a b`` → ``ab ab``; a shared-single-space encoding skips
    every other one), while self-overlap still merges greedily
    (``a a a`` → ``aa a``).  Literal replace has identical semantics in
    Spark and DuckDB, so the x143 oracle mirrors this exactly.

    Scale shape: the corpus is touched ONCE (token explode + word-freq
    hash agg); every loop round runs on the |distinct words| frame —
    pair explode, pair-count hash agg, and a 1-ROW argmax collect (the
    only driver state: one merge rule per round).  The words frame is
    localCheckpointed per round to keep lineage flat, same loop hygiene
    as :func:`graph.pagerank`.  Output: ``merge_round, pair, merged, n``.

    Vocabularies under ``driver_vocab_budget`` distinct words run the
    merge loop on the DRIVER (the :func:`graph.kcore` bounded-budget
    pattern): each distributed round otherwise pays a pair explode, a
    hash agg and a TakeOrdered job — pure scheduler overhead when the
    word-frequency table is small, which it always is relative to the
    corpus.  The budget probe is one ``limit(budget+1)`` collect of the
    frame the loop would iterate anyway; integer counts and literal
    string replaces mirror the Spark expressions exactly, so the merge
    table is identical (a unit test pins driver == distributed).  Past
    the budget the distributed loop is unchanged.

    ``word_freq=`` (columns ``word, freq``) lets a caller that has
    already aggregated word counts (``bpe_encode_fertility`` composes
    with the same frame in x167) skip the second corpus tokenize.
    """
    spaced = F.regexp_replace(F.col("word"), "(.)", " $1 ")
    wf = (
        word_freq.select("word", "freq")
        if word_freq is not None
        else df.where(F.col(text_col).isNotNull())
        .select(F.explode(H.tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    spark = df.sparkSession
    probe = wf.limit(driver_vocab_budget + 1).collect()
    if len(probe) <= driver_vocab_budget:
        return spark.createDataFrame(
            _bpe_learn_driver(
                [(r["word"], int(r["freq"])) for r in probe], n_merges
            ),
            "merge_round int, pair string, merged string, n bigint",
        )
    words = wf.select(spaced.alias("r"), "freq").localCheckpoint(eager=False)
    merges = []
    for rnd in range(1, n_merges + 1):
        symbols = F.split(F.trim(F.col("r")), "  ")
        pairs = (
            words.select(
                F.explode(H.word_ngrams(symbols, 2)).alias("pair"), "freq"
            )
            .groupBy("pair")
            .agg(F.sum("freq").alias("n"))
        )
        best = pairs.orderBy(F.col("n").desc(), F.col("pair").asc()).limit(1).collect()
        if not best:
            break
        pair, n = best[0]["pair"], best[0]["n"]
        merged = pair.replace(" ", "")
        merges.append((rnd, pair, merged, int(n)))
        wrapped_pair = " " + pair.replace(" ", "  ") + " "
        words = words.withColumn(
            "r",
            F.replace(
                F.col("r"), F.lit(wrapped_pair), F.lit(f" {merged} ")
            ),
        ).localCheckpoint(eager=False)
    spark = df.sparkSession
    return spark.createDataFrame(
        merges, "merge_round int, pair string, merged string, n bigint"
    )


def vocab_growth_curve(
    df: DataFrame, text_col: str, id_col: str, n_buckets: int = 10
) -> DataFrame:
    """Heaps'-law vocabulary growth: how many NEW token types each
    equal-count bucket of the corpus (documents in ``id_col`` order)
    introduces, plus the running total — the audit that says whether a
    corpus keeps contributing vocabulary or has gone stale.

    Scale shape: each token type is claimed by the smallest containing
    doc id (one corpus-keyed agg); docs are bucketed with the scale-safe
    :func:`global_ntile` (range partition + offsets, no one-task window);
    the cumulative runs over the |buckets| frame via ``global_cumsum``
    with a ``rows_hint``.  Output: ``bucket, new_types, cum_types``.
    """
    from flashml_spark.functions.windows import global_cumsum, global_ntile

    first = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.explode(H.tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.min(id_col).alias("first_doc"))
    )
    deciled = global_ntile(df.select(id_col), id_col, n_buckets).select(
        F.col(id_col).alias("first_doc"), F.col("bucket").cast("bigint").alias("bucket")
    )
    per_bucket = (
        first.join(deciled, "first_doc")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("new_types"))
    )
    out = global_cumsum(
        per_bucket, "bucket", ["new_types"], rows_hint=n_buckets, prefix="cum_"
    )
    return out.select(
        "bucket",
        "new_types",
        F.col("cum_new_types").cast("bigint").alias("cum_types"),
    )


def corpus_card(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    source_col: str = "source",
    short_doc_tokens: int = 10,
) -> DataFrame:
    """One-row "dataset card": the corpus-health summary a curation run
    publishes next to the data — sizes, exact duplicate rate, token
    volume, short-doc share, language/source diversity, and head-language
    concentration.  ONE corpus pass (every measure folds into a single
    hash-agg-friendly projection; the distinct-digest and per-lang counts
    are keyed sub-aggregations), all counts exact.

    Output columns: ``n_docs, n_null_text, n_distinct_texts, dup_rate,
    total_tokens, mean_tokens, short_doc_share, n_langs, n_sources,
    top_lang_share`` (floats rounded to 6).
    """
    toks = H.tokens(F.col(text_col))
    base = df.select(
        F.col(id_col),
        F.col(text_col).isNull().cast("long").alias("__isnull"),
        F.when(F.col(text_col).isNotNull(), H.md5_hex(F.col(text_col))).alias("__h"),
        F.when(F.col(text_col).isNotNull(), F.size(toks)).alias("__nt"),
        F.col(lang_col).alias("__lang"),
        F.col(source_col).alias("__src"),
    )
    main = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__isnull").cast("bigint").alias("n_null_text"),
        F.count_distinct("__h").cast("bigint").alias("n_distinct_texts"),
        F.sum("__nt").cast("bigint").alias("total_tokens"),
        F.round(F.avg("__nt"), 6).alias("mean_tokens"),
        F.round(
            F.avg((F.col("__nt") < short_doc_tokens).cast("int")), 6
        ).alias("short_doc_share"),
        F.count_distinct("__lang").cast("bigint").alias("n_langs"),
        F.count_distinct("__src").cast("bigint").alias("n_sources"),
    )
    lang_top = (
        base.groupBy("__lang")
        .agg(F.count(F.lit(1)).alias("__c"))
        .agg(F.max("__c").alias("__top"), F.sum("__c").alias("__all"))
        .select((F.col("__top") / F.col("__all")).alias("__top_share"))
    )
    return main.crossJoin(F.broadcast(lang_top)).select(
        "n_docs",
        "n_null_text",
        "n_distinct_texts",
        F.round(
            F.when(
                F.col("n_docs") - F.col("n_null_text") > 0,
                1.0
                - F.col("n_distinct_texts")
                / (F.col("n_docs") - F.col("n_null_text")),
            ),
            6,
        ).alias("dup_rate"),
        "total_tokens",
        "mean_tokens",
        "short_doc_share",
        "n_langs",
        "n_sources",
        F.round("__top_share", 6).alias("top_lang_share"),
    )


def multi_query_bm25(
    df: DataFrame,
    text_col: str,
    id_col: str,
    queries: dict[int, list[str]],
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Batch retrieval: BM25 top-``k`` documents for MANY queries in one
    corpus pass (term-at-a-time): the query set becomes a tiny broadcast
    ``(query_id, token)`` dim; every (doc, token) hit scores once per
    query containing the token and folds into a (query, doc) hash agg.
    Per-query ranking reuses the bounded per-group window (each query's
    candidate set, never the corpus, sits in one partition — the
    documented top-n-per-group contract).

    Scores are rounded to 6 BEFORE ranking; ties break on ascending id.
    Output: ``query_id, <id_col>, bm25, rn`` (rn 1..k).
    """
    from flashml_spark.operators.relational import top_n_per_group

    spark = df.sparkSession
    qrows = [(qid, t) for qid, ts in queries.items() for t in set(ts)]
    qdim = spark.createDataFrame(qrows, "query_id int, token string")
    all_terms = sorted({t for ts in queries.values() for t in ts})
    # ONE corpus tokenize pass: per-doc length via size() (split always
    # returns >= 1 element for non-null text, so size == the explode
    # count) plus the tiny filtered query-term sub-array, pinned once.
    # The old shape re-tokenized + exploded the FULL token stream for
    # each of dl / dfreq / tf and shuffled all tokens twice (dl groupBy,
    # dfreq groupBy); now every shuffle is term-hit-sized.
    per = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), H.tokens(F.col(text_col)).alias("__ts"))
        .select(
            id_col,
            F.size("__ts").alias("dl"),
            F.filter(
                "__ts", lambda t: t.isin(all_terms)
            ).alias("__qts"),
        )
        .localCheckpoint()
    )
    dl = per.select(id_col, "dl")
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf_doc = (
        per.select(id_col, F.explode("__qts").alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf_doc.groupBy("token").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    tf = tf_doc.join(F.broadcast(qdim), "token").select(
        "query_id", id_col, "token", "tf"
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    contrib = idf * F.col("tf") * (k1 + 1.0) / denom
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum(contrib), 6).alias("bm25"))
    )
    return top_n_per_group(
        scored, ["query_id"], "bm25", k, descending=True, tiebreak_cols=[id_col]
    ).select("query_id", id_col, "bm25", F.col("rn").cast("bigint").alias("rn"))


def dup_span_stats(
    df: DataFrame, text_col: str, id_col: str, n: int = 5
) -> DataFrame:
    """Per-document duplicated-SPAN statistics — the exact-substring
    dedup measurement behind training-data span removal ("Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022,
    arXiv:2107.06499): a word ``n``-gram is DUPLICATED if it occurs at
    two or more positions corpus-wide (in another document or repeated
    within the same one); per document, overlapping or token-adjacent
    duplicated occurrences merge into maximal spans.  The per-doc
    duplicated-token fraction is the signal a curation run thresholds
    on (or hands to a span-cutting pass).

    Scale shape — linear keyed passes, the same claim-join discipline
    as :func:`ngram_novelty`: positional gram explode (corpus-linear),
    ONE gram-keyed count agg to find duplicated grams (hot-gram skew
    left to AQE skew-join, as x139), a semi-join back to claim
    positions, then a PER-DOCUMENT window for the gaps-and-islands
    merge (keyed by doc — no global window) and one agg per doc.
    Because every interval has the same length ``n``, the running-max
    island test reduces to a single ``lag``: a new span starts iff
    ``pos > lag(pos) + n`` (gap of at least one uncovered token).

    Output: ``id_col, n_tokens, n_dup_spans, dup_tokens, dup_frac``
    for EVERY non-null-text document (docs with no duplicated grams or
    fewer than ``n`` tokens report zeros).
    """
    from pyspark.sql import Window

    # tokenize ONCE (r11, the x291 pin pattern): see self_repetition_stats
    toks = _bounded_pin(
        df.where(F.col(text_col).isNotNull()).select(
            F.col(id_col), H.tokens(F.col(text_col)).alias("__ts")
        )
    )
    grams = toks.select(
        id_col,
        F.posexplode(H.word_ngrams(F.col("__ts"), n)).alias("pos", "gram"),
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2)
        .select("gram")
    )
    claims = grams.join(dup, "gram", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    new_span = (
        F.lag("pos").over(w).isNull()
        | (F.col("pos") > F.lag("pos").over(w) + n)
    ).cast("long")
    islands = claims.withColumn(
        "island",
        F.sum(new_span).over(
            Window.partitionBy(id_col).orderBy("pos").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ),
    )
    spans = islands.groupBy(id_col, "island").agg(
        (F.max("pos") - F.min("pos") + n).alias("span_len")
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_spans"),
        F.sum("span_len").cast("bigint").alias("dup_tokens"),
    )
    return (
        toks.select(id_col, F.size("__ts").cast("bigint").alias("n_tokens"))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens"),
                6,
            ).alias("dup_frac"),
        )
    )


def remove_dup_spans(
    df: DataFrame, text_col: str, id_col: str, n: int = 5
) -> DataFrame:
    """The span-CUTTING transform behind exact substring dedup (the
    removal pass that :func:`dup_span_stats` measures): rebuild every
    document's text with all duplicated spans removed — conservative
    symmetric cut (every occurrence goes; a keep-one policy would make
    the result order-dependent, the same reason Lee et al.'s
    deduplication cuts both copies of a cluster by default).  Documents
    made empty by the cut survive with empty text so the caller can
    filter or count them.

    Scale shape: shares x161's claim pipeline (positional gram explode,
    ONE gram-keyed dup agg, semi-join claims, per-doc island merge);
    covered token positions come from exploding each span's
    ``sequence(start, end)`` (output is corpus-linear: spans are
    disjoint per doc so positions never duplicate), tokens drop via a
    per-doc keyed LEFT ANTI on (doc, pos), and the text reassembles
    with ``sort_array(collect_list(struct(pos, token)))`` — bounded per
    document, never a global collect.

    Output: ``id_col, clean_text, n_tokens, kept_tokens``.
    """
    from pyspark.sql import Window

    # tokenize ONCE (r11, the x291 pin pattern): see self_repetition_stats
    toks = _bounded_pin(
        df.where(F.col(text_col).isNotNull()).select(
            F.col(id_col), H.tokens(F.col(text_col)).alias("__ts")
        )
    )
    grams = toks.select(
        id_col,
        F.posexplode(H.word_ngrams(F.col("__ts"), n)).alias("pos", "gram"),
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2)
        .select("gram")
    )
    claims = grams.join(dup, "gram", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    new_span = (
        F.lag("pos").over(w).isNull()
        | (F.col("pos") > F.lag("pos").over(w) + n)
    ).cast("long")
    islands = claims.withColumn(
        "island",
        F.sum(new_span).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    covered = (
        islands.groupBy(id_col, "island")
        .agg(F.min("pos").alias("s"), (F.max("pos") + n - 1).alias("e"))
        .select(
            id_col, F.explode(F.sequence(F.col("s"), F.col("e"))).alias("pos")
        )
    )
    positions = toks.select(
        id_col, F.posexplode(F.col("__ts")).alias("pos", "token")
    )
    kept = positions.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "token"))),
                lambda s: s["token"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("bigint").alias("kept_tokens"),
    )
    return (
        toks.select(id_col, F.size("__ts").cast("bigint").alias("n_tokens"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_tokens",
            F.coalesce("kept_tokens", F.lit(0)).cast("bigint").alias("kept_tokens"),
        )
    )


def _token_lcp(a: Column, b: Column) -> Column:
    """Token-wise longest-common-prefix length of two string arrays as
    a pure column expression: element-wise null-safe equality via
    ``zip_with`` (which pads the shorter array with NULLs, so a length
    mismatch reads as a mismatch at position min+1), then the first
    ``false`` position; no mismatch means the shorter array is a full
    prefix.  Ports 1:1 to DuckDB ``list_zip``/``list_position`` — the
    oracle uses the identical construction."""
    eqs = F.zip_with(a, b, lambda x, y: x.eqNullSafe(y))
    mis = F.array_position(eqs, F.lit(False))
    return F.when(mis > 0, mis - 1).otherwise(
        F.least(F.size(a), F.size(b)).cast("long")
    )


def suffix_matching_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    anchor_len: int = 25,
    ext_cap: int = 75,
) -> DataFrame:
    """Suffix-array matching statistics — the EXACT-substring dedup
    primitive ("Deduplicating Training Data Makes Language Models
    Better", Lee et al. 2022, arXiv:2107.06499 §4.1, which builds a
    corpus suffix array; cf. the reference's shingle tooling, which
    stops at fixed-width grams): for every token position ``p`` of
    every document, the length of the LONGEST exact token run starting
    at ``p`` that also occurs at some other position corpus-wide
    (cross-document or self-repeat).  Where :func:`dup_span_stats`
    answers "is this position covered by ANY duplicated n-gram", this
    answers "exactly how long is the repeat here and what is it" — the
    statistic Lee et al. threshold at 50 tokens.

    Distributed suffix-array construction, bucketed so there is NO
    all-pairs and NO global sort: a repeat of length >= ``anchor_len``
    must begin with a shared ``anchor_len``-token prefix, so suffixes
    bucket by that anchor; within a bucket (>= 2 members), suffixes
    sort by their CONTINUATION (the next ``ext_cap`` tokens) and the
    repeat extension is the token-LCP with the better sort neighbor —
    for lexicographically sorted strings the max LCP against the whole
    bucket is always achieved at an adjacent row
    (``lcp(a,c) = min(lcp(a,b), lcp(b,c))`` for ``a < b < c``), so one
    ``lag``/``lead`` pair replaces the all-pairs comparison.  Reported
    lengths are exact up to ``anchor_len + ext_cap`` (capped there —
    Lee et al.'s thresholding only needs exactness around the cut).

    Scale shape: positional suffix explode (corpus-linear rows,
    map-side only), ONE shuffle PARTITIONED ON A 64-BIT HASH of the
    anchor (r10 VERDICT item 2 — the key is fixed-width, not the
    k-token string) for the bucket window, no join.  This variant
    still carries the anchor STRING as payload because the output
    reports the repeat text — and reuses it as a TRUE post-shuffle
    equality guard: the window sorts ``(anchor, continuation)`` so
    same-anchor rows stay contiguous inside a hash bucket, and a row
    only extends/counts against a neighbor with an EQUAL anchor, so
    64-bit bucket collisions are completely harmless (a collided row
    is inert sort mass).  Callers that don't need the text
    (:func:`exact_substring_report`,
    :func:`exact_substring_decontamination`) go through the
    hash-only core (:func:`_hashed_suffix_lengths`) whose shuffled
    payload is the continuation plus 16 bytes of key — dropping the
    anchor's ~k-token byte amplification from the one shuffle this
    family does.  Hot boilerplate anchors remain the skew risk — the
    same hot-gram shape as x139/x161, bounded by bucket sort spill.
    Sort caveat: continuations order by their space-joined string,
    which equals token-prefix order because whitespace tokenization
    excludes 0x20 from tokens; a token carrying a sub-0x20 control
    byte could re-order ties, and the oracle applies the identical
    binary sort either way.

    Output (one row per suffix in a shared bucket): ``id_col, pos``
    (1-based), ``repeat_len`` (tokens, >= anchor_len), ``repeat`` (the
    space-joined repeated run itself).
    """
    from pyspark.sql import Window

    k, c = anchor_len, ext_cap
    toks = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), H.tokens(F.col(text_col)).alias("__ts")
    )
    suf = toks.select(
        id_col,
        "__ts",
        F.explode(
            F.when(
                F.size("__ts") >= k,
                F.sequence(F.lit(1), F.size("__ts") - (k - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("pos"),
    ).select(
        id_col,
        "pos",
        F.xxhash64(F.lit(1), F.slice("__ts", F.col("pos"), k)).alias("__h1"),
        F.concat_ws(" ", F.slice("__ts", F.col("pos"), k)).alias("anchor"),
        F.slice("__ts", F.col("pos") + k, c).alias("cont"),
    )
    ws = Window.partitionBy("__h1").orderBy(
        "anchor", F.concat_ws(" ", F.col("cont")), id_col, "pos"
    )
    bucketed = suf.select(
        id_col,
        "pos",
        "anchor",
        "cont",
        F.lag("anchor").over(ws).alias("__pa"),
        F.lead("anchor").over(ws).alias("__na"),
        F.lag("cont").over(ws).alias("__prev"),
        F.lead("cont").over(ws).alias("__next"),
    ).where(
        (F.col("__pa") == F.col("anchor")) | (F.col("__na") == F.col("anchor"))
    )
    ext = F.greatest(
        F.when(
            F.col("__pa") == F.col("anchor"),
            _token_lcp(F.col("cont"), F.col("__prev")),
        ).otherwise(F.lit(-1)),
        F.when(
            F.col("__na") == F.col("anchor"),
            _token_lcp(F.col("cont"), F.col("__next")),
        ).otherwise(F.lit(-1)),
    )
    return bucketed.select(
        id_col,
        "pos",
        (F.lit(k) + ext).cast("bigint").alias("repeat_len"),
        F.when(
            ext > 0,
            F.concat_ws(
                " ",
                F.col("anchor"),
                F.concat_ws(" ", F.slice("cont", 1, ext)),
            ),
        )
        .otherwise(F.col("anchor"))
        .alias("repeat"),
    )


def _hashed_suffix_lengths(
    df: DataFrame,
    text_col: str,
    id_col: str,
    anchor_len: int,
    ext_cap: int,
) -> DataFrame:
    """Hash-keyed suffix matching lengths — the NO-TEXT core of the
    suffix family (r10 VERDICT item 2): identical semantics to
    :func:`suffix_matching_stats` minus the ``repeat`` string, with
    the anchor never shuffled at all.  The shuffled payload per suffix
    is ``(id, pos, h1, h2, continuation)`` — two 64-bit anchor hashes
    (independent via distinct literal prefixes) plus the ext_cap
    continuation, dropping the anchor's ~anchor_len-token byte weight
    from the one shuffle this family does.

    Collision posture: the window partitions on ``h1`` and sorts
    ``(h2, continuation, id, pos)``; rows sharing BOTH hashes stay
    contiguous, and a row only extends/counts against a neighbor with
    an equal ``h2`` — a false repeat therefore needs two DIFFERENT
    anchors agreeing on 128 bits, ~N²/2^129 over N distinct anchors
    (~2e-15 even at a trillion anchors).  An ``h1``-only collision is
    inert sort mass, exactly like a same-bucket different-anchor row
    in the text-carrying variant.

    Output: ``id_col, pos, repeat_len`` (>= anchor_len).
    """
    from pyspark.sql import Window

    k, c = anchor_len, ext_cap
    toks = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), H.tokens(F.col(text_col)).alias("__ts")
    )
    suf = toks.select(
        id_col,
        "__ts",
        F.explode(
            F.when(
                F.size("__ts") >= k,
                F.sequence(F.lit(1), F.size("__ts") - (k - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("pos"),
    ).select(
        id_col,
        "pos",
        F.xxhash64(F.lit(1), F.slice("__ts", F.col("pos"), k)).alias("__h1"),
        F.xxhash64(F.lit(2), F.slice("__ts", F.col("pos"), k)).alias("__h2"),
        F.slice("__ts", F.col("pos") + k, c).alias("cont"),
    )
    ws = Window.partitionBy("__h1").orderBy(
        "__h2", F.concat_ws(" ", F.col("cont")), id_col, "pos"
    )
    bucketed = suf.select(
        id_col,
        "pos",
        "__h2",
        "cont",
        F.lag("__h2").over(ws).alias("__ph"),
        F.lead("__h2").over(ws).alias("__nh"),
        F.lag("cont").over(ws).alias("__prev"),
        F.lead("cont").over(ws).alias("__next"),
    ).where(
        (F.col("__ph") == F.col("__h2")) | (F.col("__nh") == F.col("__h2"))
    )
    ext = F.greatest(
        F.when(
            F.col("__ph") == F.col("__h2"),
            _token_lcp(F.col("cont"), F.col("__prev")),
        ).otherwise(F.lit(-1)),
        F.when(
            F.col("__nh") == F.col("__h2"),
            _token_lcp(F.col("cont"), F.col("__next")),
        ).otherwise(F.lit(-1)),
    )
    return bucketed.select(
        id_col,
        "pos",
        (F.lit(k) + ext).cast("bigint").alias("repeat_len"),
    )


def exact_substring_report(
    df: DataFrame,
    text_col: str,
    id_col: str,
    anchor_len: int = 25,
    ext_cap: int = 75,
) -> DataFrame:
    """Per-document exact-substring duplication report off
    :func:`suffix_matching_stats`: for EVERY non-null-text document,
    the length of its longest token run repeated anywhere corpus-wide
    (0 when none reaches ``anchor_len``) and how many of its suffix
    positions start such a run — the per-doc readout a Lee-et-al-style
    curation pass thresholds before span cutting (x163).

    Scale shape: the suffix pipeline's one anchor shuffle — through
    the HASH-ONLY core (:func:`_hashed_suffix_lengths`), since this
    report never reads the repeat text, so the anchor string never
    enters the shuffle — then one doc-keyed agg and a left join back
    to the |docs|-row token-count frame.

    Output: ``id_col, n_tokens, max_repeat_len, n_repeat_suffixes``.
    """
    stats = _hashed_suffix_lengths(df, text_col, id_col, anchor_len, ext_cap)
    per_doc = stats.groupBy(id_col).agg(
        F.max("repeat_len").cast("bigint").alias("max_repeat_len"),
        F.count(F.lit(1)).cast("bigint").alias("n_repeat_suffixes"),
    )
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.size(H.tokens(F.col(text_col))).cast("bigint").alias("n_tokens"),
    )
    return base.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("max_repeat_len", F.lit(0))
        .cast("bigint")
        .alias("max_repeat_len"),
        F.coalesce("n_repeat_suffixes", F.lit(0))
        .cast("bigint")
        .alias("n_repeat_suffixes"),
    )


def longest_repeated_substrings(
    df: DataFrame,
    text_col: str,
    id_col: str,
    anchor_len: int = 25,
    ext_cap: int = 75,
    top_n: int = 5,
) -> DataFrame:
    """The classic suffix-array corpus query: the ``top_n`` longest
    exact repeated token runs corpus-wide, with the run itself and how
    many suffix positions report it as their maximal repeat (for the
    corpus-longest run this equals its occurrence count; shorter
    entries can also be interior runs of longer ones — standard
    suffix-array behavior, documented rather than filtered).

    Scale shape: suffix pipeline -> one gram-keyed agg over repeat
    strings -> global top-N on |distinct repeats|, deterministic order
    ``(len DESC, repeat ASC)``.

    Output (``top_n`` rows): ``repeat, repeat_len, n_positions``.
    """
    stats = suffix_matching_stats(df, text_col, id_col, anchor_len, ext_cap)
    return (
        stats.groupBy("repeat")
        .agg(
            F.max("repeat_len").cast("bigint").alias("repeat_len"),
            F.count(F.lit(1)).cast("bigint").alias("n_positions"),
        )
        .orderBy(F.col("repeat_len").desc(), F.col("repeat"))
        .limit(top_n)
    )


def exact_substring_decontamination(
    corpus_df: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    anchor_len: int = 13,
    ext_cap: int = 50,
    min_len: int | None = None,
) -> DataFrame:
    """Cross-side suffix matching statistics — EXACT-substring eval-set
    decontamination (the GPT-3 appendix-C / Lee et al. §6.2 screen:
    flag an eval item when it shares an exact run of >= ``min_len``
    tokens with the training corpus; GPT-3 used 13-gram overlap, which
    is this statistic thresholded at its floor): for every eval
    suffix, the longest exact token run that also occurs ON THE CORPUS
    SIDE.  Same-side (eval-eval) duplication deliberately does NOT
    count — the contamination question is train-vs-test only, which is
    what distinguishes this from x272's corpus-wide statistics and
    from the gram-fraction views (x178 mass, x55 touch, x268 bloom).

    Construction: union both sides with a tag, bucket suffixes by the
    ``anchor_len``-token anchor, sort by continuation; an eval
    suffix's best corpus match is its NEAREST corpus-side row above or
    below in the sorted bucket (for sorted strings ``lcp(a, c) =
    min(lcp(a, b), lcp(b, c))``, so LCP against one side is
    non-increasing with sort distance) — two ignorenulls window frames
    replace any eval x corpus join.  Lengths exact up to
    ``anchor_len + ext_cap``; ``min_len`` (default = ``anchor_len``)
    only sets the reported flag.

    Scale shape: ONE shuffle over corpus+eval suffixes PARTITIONED ON
    A 64-BIT ANCHOR HASH with a second hash as the sort prefix and
    post-shuffle equality guard (r10 VERDICT item 2 — the anchor
    string itself never enters the shuffle; the payload is the
    continuation plus 16 bytes of key), running ignorenulls frames
    inside the bucket window, then an eval-doc-keyed agg and a
    zero-filled left join onto the |eval| frame.  No join between the
    sides at all.  Guard correctness: the sort prefix ``h2`` keeps
    same-anchor rows contiguous inside an ``h1`` bucket, so every row
    between an eval suffix and its nearest same-``h2`` corpus row
    also shares ``h2`` — the picked neighbor either carries the eval
    row's ``h2`` (counted) or no same-anchor corpus row exists on
    that side (discarded); a false overlap needs a 128-bit anchor
    collision (~N²/2^129).

    Output (one row per non-null-text eval doc): ``id_col, n_tokens,
    max_overlap_len, n_overlap_suffixes, contaminated`` (0/1).
    """
    from pyspark.sql import Window

    k, c = anchor_len, ext_cap
    floor = anchor_len if min_len is None else min_len
    if floor < anchor_len:
        raise ValueError(
            f"min_len {floor} below anchor_len {anchor_len}: overlaps "
            "shorter than the anchor are never observed"
        )

    def side_toks(df: DataFrame, side: int) -> DataFrame:
        return df.where(F.col(text_col).isNotNull()).select(
            F.lit(side).alias("__side"),
            F.col(id_col),
            H.tokens(F.col(text_col)).alias("__ts"),
        )

    toks = side_toks(corpus_df, 0).unionByName(side_toks(eval_df, 1))
    suf = toks.select(
        "__side",
        id_col,
        "__ts",
        F.explode(
            F.when(
                F.size("__ts") >= k,
                F.sequence(F.lit(1), F.size("__ts") - (k - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("pos"),
    ).select(
        "__side",
        id_col,
        "pos",
        F.xxhash64(F.lit(1), F.slice("__ts", F.col("pos"), k)).alias("__h1"),
        F.xxhash64(F.lit(2), F.slice("__ts", F.col("pos"), k)).alias("__h2"),
        F.slice("__ts", F.col("pos") + k, c).alias("cont"),
    )
    ws = Window.partitionBy("__h1").orderBy(
        "__h2", F.concat_ws(" ", F.col("cont")), "__side", id_col, "pos"
    )
    corp_pick = F.when(
        F.col("__side") == 0,
        F.struct(F.col("__h2").alias("h2"), F.col("cont").alias("cont")),
    )
    above = F.last(corp_pick, ignorenulls=True).over(
        ws.rowsBetween(Window.unboundedPreceding, -1)
    )
    below = F.first(corp_pick, ignorenulls=True).over(
        ws.rowsBetween(1, Window.unboundedFollowing)
    )
    abv_ok = F.col("__abv.h2") == F.col("__h2")
    blw_ok = F.col("__blw.h2") == F.col("__h2")
    hits = (
        suf.select(
            "__side",
            id_col,
            "pos",
            "__h2",
            "cont",
            above.alias("__abv"),
            below.alias("__blw"),
        )
        .where((F.col("__side") == 1) & (abv_ok | blw_ok))
        .select(
            id_col,
            (
                F.lit(k)
                + F.greatest(
                    F.when(
                        abv_ok, _token_lcp(F.col("cont"), F.col("__abv.cont"))
                    ).otherwise(F.lit(-1)),
                    F.when(
                        blw_ok, _token_lcp(F.col("cont"), F.col("__blw.cont"))
                    ).otherwise(F.lit(-1)),
                )
            )
            .cast("bigint")
            .alias("overlap_len"),
        )
    )
    per_doc = hits.groupBy(id_col).agg(
        F.max("overlap_len").cast("bigint").alias("max_overlap_len"),
        F.count(F.lit(1)).cast("bigint").alias("n_overlap_suffixes"),
    )
    base = eval_df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.size(H.tokens(F.col(text_col))).cast("bigint").alias("n_tokens"),
    )
    return base.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("max_overlap_len", F.lit(0))
        .cast("bigint")
        .alias("max_overlap_len"),
        F.coalesce("n_overlap_suffixes", F.lit(0))
        .cast("bigint")
        .alias("n_overlap_suffixes"),
        (F.coalesce("max_overlap_len", F.lit(0)) >= floor)
        .cast("int")
        .alias("contaminated"),
    )


def token_stream_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seq_len: int = 2048,
    n_shards: int | None = None,
    order_col: str | None = None,
    order_ascending: bool = True,
) -> DataFrame:
    """GPT-style token-STREAM packing (concat-and-chunk): documents are
    concatenated in ``id_col`` order into one token stream that is cut
    into fixed ``seq_len`` sequences, documents SPLITTING across
    sequence boundaries — the standard causal-LM pretraining layout,
    complementary to :func:`pack_shards`-style first-fit packing (x63),
    which never splits a document.  Returns the doc -> sequence span
    map a sequence writer consumes.  ``order_col`` switches the stream
    from id order to CURRICULUM order ((order_col, id) — pass a
    round-stable key so the order is engine-exact); works with both
    the global and the sharded layout.

    Scale shape: token counts are one map pass; the stream offset is
    ``global_cumsum`` over ``id_col`` (range-partitioned prefix sums —
    no single-partition window); each doc explodes into its covered
    sequences (``n_tokens / seq_len + 1`` rows, corpus-linear).  All
    arithmetic is exact BIGINT.

    Output (one row per doc x covered sequence): ``id_col, seq,
    start_off, end_off, span_tokens, starts_here, ends_here`` —
    offsets are the doc's global stream positions clipped to the
    sequence, ``span_tokens`` the tokens it contributes there, and the
    flags mark the sequence holding the doc's true start/end.  With
    ``n_shards`` set, a leading ``shard`` column (``id % n_shards``)
    is added and the stream/offsets/sequences are PER SHARD (keyed
    window cumsum — no global ordering at all): the independent-writer
    layout whose incremental twin is
    ``streaming.packing.streaming_token_packer``.
    """
    from flashml_spark.functions.windows import global_cumsum

    L = int(seq_len)
    if L <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    sel = [F.col(id_col), F.size(H.tokens(F.col(text_col))).cast("bigint").alias("__n")]
    if order_col is not None:
        sel.append(F.col(order_col).alias("__ord"))
    t = df.where(F.col(text_col).isNotNull()).select(*sel)
    if n_shards is None:
        if order_col is None:
            cum = global_cumsum(t, id_col, ["__n"])
        else:
            # curriculum order: stream position follows (order_col,
            # id) — callers pass a ROUND-STABLE key (e.g. a round-6
            # score) so the order is engine-exact
            cum = global_cumsum(
                t,
                "__ord",
                ["__n"],
                ascending=order_ascending,
                tiebreak_cols=[id_col],
            )
        offs = cum.select(
            id_col,
            "__n",
            (F.col("cum___n") - F.col("__n")).alias("__start"),
            F.col("cum___n").alias("__end"),
        )
        shard_cols: list = []
    else:
        # per-shard streams: each shard packs independently, so the
        # offset is an ordinary KEYED window cumsum — fully parallel,
        # and the layout every shard writer (and the streaming twin
        # ``streaming.packing.streaming_token_packer``) reproduces
        from pyspark.sql import Window

        if order_col is None:
            order = [F.col(id_col).asc()]
        else:
            key = F.col("__ord")
            order = [
                key.asc() if order_ascending else key.desc(),
                F.col(id_col).asc(),
            ]
        w = (
            Window.partitionBy("shard")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        offs = (
            t.withColumn(
                "shard", (F.col(id_col) % n_shards).cast("bigint")
            )
            .withColumn("__end", F.sum("__n").over(w))
            .withColumn("__start", F.col("__end") - F.col("__n"))
        )
        shard_cols = ["shard"]
    spans = offs.select(
        *shard_cols,
        id_col,
        "__start",
        "__end",
        F.explode(
            F.sequence(
                F.floor(F.col("__start") / L),
                F.floor((F.col("__end") - 1) / L),
            )
        ).alias("seq"),
    )
    lo = F.greatest(F.col("__start"), F.col("seq") * L)
    hi = F.least(F.col("__end"), (F.col("seq") + 1) * L)
    return spans.select(
        *shard_cols,
        id_col,
        F.col("seq").cast("bigint").alias("seq"),
        lo.cast("bigint").alias("start_off"),
        hi.cast("bigint").alias("end_off"),
        (hi - lo).cast("bigint").alias("span_tokens"),
        # a doc starting exactly ON a boundary still STARTS here, so
        # these are derived from the GLOBAL offsets, not the clipped
        # ones (start_off == seq*L is ambiguous between the two cases)
        (F.floor(F.col("__start") / L) == F.col("seq"))
        .cast("int")
        .alias("starts_here"),
        (F.floor((F.col("__end") - 1) / L) == F.col("seq"))
        .cast("int")
        .alias("ends_here"),
    )


def materialize_packed_sequences(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seq_len: int = 2048,
    n_shards: int | None = None,
    order_col: str | None = None,
    order_ascending: bool = True,
) -> DataFrame:
    """Materialize the packed sequences :func:`token_stream_spans`
    lays out — the actual training-sequence frame a writer persists
    (``.write.partitionBy('shard')`` when sharded): per sequence, the
    concatenated token array across its member doc slices, in stream
    order.

    Scale shape: the spans pipeline + one join back to the tokenized
    docs (keyed on ``id_col``) + one seq-keyed agg whose payload is
    bounded by ``seq_len`` tokens — ``sort_array(collect_list(...))``
    here is per-SEQUENCE (bounded), never global.

    Output: ``[shard,] seq, n_docs, n_tokens, tokens`` — every
    sequence holds exactly ``seq_len`` tokens except the stream tail.
    """
    spans = token_stream_spans(
        df, text_col, id_col, seq_len, n_shards, order_col, order_ascending
    )
    shard_cols = ["shard"] if n_shards is not None else []
    toks = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), H.tokens(F.col(text_col)).alias("__ts")
    )
    # doc-local slice bounds: the doc's global start is the start_off
    # of its starts_here span; carry it to every span of the doc
    doc_start = spans.where(F.col("starts_here") == 1).select(
        F.col(id_col), F.col("start_off").alias("__doc_start")
    )
    sliced = (
        spans.join(doc_start, id_col)
        .join(toks, id_col)
        .select(
            *shard_cols,
            "seq",
            "start_off",
            F.slice(
                "__ts",
                (F.col("start_off") - F.col("__doc_start") + 1).cast("int"),
                F.col("span_tokens").cast("int"),
            ).alias("__piece"),
        )
    )
    return (
        sliced.groupBy(*shard_cols, "seq")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("start_off", "__piece"))
                    ),
                    lambda s: s["__piece"],
                )
            ).alias("tokens"),
        )
        .select(
            *shard_cols,
            "seq",
            "n_docs",
            F.size("tokens").cast("bigint").alias("n_tokens"),
            "tokens",
        )
    )


def token_stream_packing_audit(
    df: DataFrame, text_col: str, id_col: str, seq_len: int = 2048
) -> DataFrame:
    """Per-sequence audit of :func:`token_stream_spans`: how many
    documents touch / start in / end in each packed sequence and its
    token fill — the numbers behind the "what fraction of training
    sequences cross a document boundary" question (attention-mask and
    contamination-bleed analyses both start here).

    Scale shape: the spans pipeline plus ONE seq-keyed agg; the output
    is ``total_tokens / seq_len`` rows.

    Output: ``seq, n_docs, n_docs_started, n_docs_ended,
    tokens_filled`` (every sequence except possibly the last fills to
    ``seq_len``).
    """
    L = int(seq_len)
    spans = token_stream_spans(df, text_col, id_col, L)
    return spans.groupBy("seq").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("starts_here").cast("bigint").alias("n_docs_started"),
        F.sum("ends_here").cast("bigint").alias("n_docs_ended"),
        F.sum("span_tokens").cast("bigint").alias("tokens_filled"),
    )


def self_repetition_stats(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """WITHIN-document duplicated-span statistics (the Gopher /
    MassiveText "fraction of characters in duplicate n-grams" quality
    rule, Rae et al. 2021 §A1.1): positions whose word ``n``-gram occurs
    at >= 2 positions *in the same document* are claimed, claims merge
    into maximal spans (gaps-and-islands, same machinery as
    :func:`dup_span_stats` — which measures CORPUS-wide duplication;
    this is the self-repetition twin used as a per-doc quality filter),
    and the doc reports its duplicated token count plus the
    char-weighted fraction ``dup_chars / total_token_chars``.

    Scale shape: everything is keyed by (doc, gram) or doc — a
    positional gram explode, ONE (doc, gram)-keyed dup agg, a semi-join
    claim, a per-doc window island merge, and per-doc aggs.  No
    corpus-global frame at all (unlike x161's gram claim), so skew risk
    is bounded by the longest single document.

    Output: ``id_col, n_tokens, dup_tokens, dup_char_frac`` for every
    non-null-text document (zeros included).
    """
    from pyspark.sql import Window

    # tokenize ONCE (r11, the x291 pin pattern): grams' two consumers,
    # the positional explode and the totals row each re-ran the full
    # scan + split otherwise (4 corpus tokenize passes for one result)
    toks = _bounded_pin(
        df.where(F.col(text_col).isNotNull()).select(
            F.col(id_col), H.tokens(F.col(text_col)).alias("__ts")
        )
    )
    grams = toks.select(
        id_col,
        F.posexplode(H.word_ngrams(F.col("__ts"), n)).alias("pos", "gram"),
    )
    dup = (
        grams.groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2)
        .select(id_col, "gram")
    )
    claims = grams.join(dup, [id_col, "gram"], "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    new_span = (
        F.lag("pos").over(w).isNull()
        | (F.col("pos") > F.lag("pos").over(w) + n)
    ).cast("long")
    islands = claims.withColumn(
        "island",
        F.sum(new_span).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    covered = (
        islands.groupBy(id_col, "island")
        .agg(F.min("pos").alias("s"), (F.max("pos") + n - 1).alias("e"))
        .select(
            id_col, F.explode(F.sequence(F.col("s"), F.col("e"))).alias("pos")
        )
    )
    positions = toks.select(
        id_col, F.posexplode(F.col("__ts")).alias("pos", "token")
    )
    per_doc = (
        positions.join(covered, [id_col, "pos"], "left_semi")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("dup_tokens"),
            F.sum(F.length("token")).alias("dup_chars"),
        )
    )
    totals = toks.select(
        id_col,
        F.size("__ts").cast("bigint").alias("n_tokens"),
        F.aggregate(
            F.transform(F.col("__ts"), lambda t: F.length(t).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("__tchars"),
    )
    return totals.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
        F.round(
            F.when(
                F.col("__tchars") > 0,
                F.coalesce("dup_chars", F.lit(0))
                / F.col("__tchars").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_char_frac"),
    )


def bpe_encode_fertility(
    df: DataFrame,
    text_col: str,
    group_col: str,
    merges: list[str],
    group_word_counts: DataFrame | None = None,
) -> DataFrame:
    """Apply learned BPE merge rules (from :func:`bpe_learn`, in rule
    order) to the corpus and report per-group tokenizer FERTILITY —
    BPE tokens per word — the audit that says how well a learned
    vocabulary compresses each source (high fertility = the tokenizer
    fragments that source; the standard multi-source tokenizer-quality
    readout).

    ``merges`` is the ordered pair list (``"a b"`` strings).  Greedy
    BPE encoding = the same sentinel-spaced literal replace as the
    learn loop, applied once per rule in order — semantics identical in
    Spark and DuckDB, so the oracle can unroll the exact same chain.

    Scale shape: the corpus is touched ONCE (token explode + a
    (group, word) hash agg); the merge fold then runs on the DISTINCT
    WORD frame only (|vocab| rows, R chained ``replace`` projections —
    whole-stage-codegen'd, no UDF), and one keyed join carries symbol
    counts back to the (group, word) frame for the per-group agg.
    Driver state: the R merge strings (bounded by construction).
    Output: ``group_col, n_words, n_bpe_tokens, fertility``.

    ``group_word_counts=`` (columns ``group_col, word, cnt``) lets a
    caller that already aggregated the corpus (x167 derives
    ``bpe_learn``'s word frequencies from the SAME frame) skip this
    function's corpus tokenize entirely.
    """
    gw = (
        group_word_counts.select(group_col, "word", "cnt")
        if group_word_counts is not None
        else df.where(F.col(text_col).isNotNull())
        .select(
            F.col(group_col), F.explode(H.tokens(F.col(text_col))).alias("word")
        )
        .groupBy(group_col, "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    spaced = F.regexp_replace(F.col("word"), "(.)", " $1 ")
    vocab = gw.select("word").distinct().select("word", spaced.alias("r"))
    r = F.col("r")
    for pair in merges:
        wrapped = " " + pair.replace(" ", "  ") + " "
        merged = " " + pair.replace(" ", "") + " "
        r = F.replace(r, F.lit(wrapped), F.lit(merged))
    encoded = vocab.select(
        "word", F.size(F.split(F.trim(r), "  ")).alias("n_sym")
    )
    return (
        gw.join(encoded, "word")
        .groupBy(group_col)
        .agg(
            F.sum("cnt").cast("bigint").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_sym")).cast("bigint").alias("n_bpe_tokens"),
            F.round(
                F.sum(F.col("cnt") * F.col("n_sym"))
                / F.sum("cnt").cast("double"),
                6,
            ).alias("fertility"),
        )
    )


def decontamination_audit(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C / Llama recipe):
    flag training documents sharing word ``n``-grams with a held-out
    evaluation set, reporting per-document overlap so the pipeline can
    drop or redact contaminated examples before pretraining.

    Scale shape: both sides explode to DISTINCT gram keys; the overlap
    is ONE equi-join on the gram followed by one per-document agg — no
    window, no driver state, and no forced broadcast (the eval gram set
    is corpus-sized in the worst case; AQE picks the join strategy).
    Documents with fewer than ``n`` tokens have no grams and drop out,
    matching `ngram_novelty`'s contract.

    Output: ``id_col, n_grams, n_hit, contamination`` (rounded to 6) —
    one row per TRAIN document that produced at least one gram.
    """
    t_grams = (
        train.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.explode(H.word_ngrams(H.tokens(F.col(text_col)), n)).alias("gram"),
        )
        .distinct()
    )
    e_grams = (
        eval_df.where(F.col(text_col).isNotNull())
        .select(
            F.explode(H.word_ngrams(H.tokens(F.col(text_col)), n)).alias("gram")
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        t_grams.join(e_grams, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hit"),
        )
        .withColumn(
            "contamination",
            F.round(F.col("n_hit").cast("double") / F.col("n_grams"), 6),
        )
    )


def unigram_logprob_score(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    MLE unigram model — the cheap stand-in for CCNet's LM-perplexity
    quality score (docs full of rare/garbled tokens score low; docs of
    common fluent tokens score high).  ``avg ln p(w) = avg ln n_w -
    ln N`` keeps the corpus total out of the per-row join: tokens join
    the vocab-sized count frame, the 1-row total attaches after the
    per-document agg.

    Scale shape: one token explode, one vocab agg, one keyed join back,
    one per-doc agg, one 1-row cross join — no window, no driver state.
    Output: ``id_col, n_tokens, avg_logp`` (rounded to 6).
    """
    toks = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.explode(H.tokens(F.col(text_col))).alias("token")
    )
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("double").alias("n_w")
    )
    total = counts.agg(F.sum("n_w").alias("total"))
    per_doc = (
        toks.join(counts, "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.avg(F.log(F.col("n_w"))).alias("avg_ln_n"),
        )
    )
    return per_doc.crossJoin(total).select(
        id_col,
        "n_tokens",
        F.round(F.col("avg_ln_n") - F.log(F.col("total")), 6).alias("avg_logp"),
    )


def tfidf_keywords(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """Per-document top-``k`` keywords by tf·idf against the corpus's
    own document frequencies (``idf = ln(N / df)``) — the summarize-
    what-this-doc-is-about extraction a curation UI or index pipeline
    runs.  Ties break by score desc, then token asc (deterministic).

    Scale shape: one token explode, one (doc, token) tf agg, one
    vocab-sized df agg riding the same frame, one keyed join, one
    per-doc top-k window (keyed by the doc — never global), and the
    1-row N attaches to the vocab frame (not the token frame).
    Output: ``id_col, token, tf, score, rk``.
    """
    from pyspark.sql import Window

    toks = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.explode(H.tokens(F.col(text_col))).alias("token")
    )
    tf = toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dfreq = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("double").alias("__df")
    )
    n_docs = df.where(F.col(text_col).isNotNull()).agg(
        F.count(F.lit(1)).cast("double").alias("__n")
    )
    scored = tf.join(
        dfreq.crossJoin(n_docs).select(
            "token", F.log(F.col("__n") / F.col("__df")).alias("__idf")
        ),
        "token",
    ).select(
        id_col,
        "token",
        "tf",
        F.round(F.col("tf") * F.col("__idf"), 6).alias("score"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= k)
    )


def token_budget_curve(
    df: DataFrame,
    text_col: str,
    budgets: list[int],
) -> DataFrame:
    """Context-budget planning curve: for each candidate per-document
    token budget L, how many documents would truncate and what fraction
    of corpus tokens survives — the table a pipeline reads before
    choosing max_seq_len / chunking policy (truncate-vs-chunk is a
    budget-retention tradeoff, not a guess).

    Scale shape: ONE pass computes each doc's token count; the
    |budgets|-way fan-out explodes a literal array on the |docs|
    COUNTS frame (two ints per row, not text), then one keyed agg per
    budget.  Output: ``budget, n_docs, n_truncated, tokens_total,
    tokens_retained, retention`` (rounded 6), |budgets| rows.
    """
    from flashml_spark.functions import hashing as H

    counts = df.where(F.col(text_col).isNotNull()).select(
        F.size(H.tokens(F.col(text_col))).cast("bigint").alias("__n")
    )
    fanned = counts.select(
        "__n",
        F.explode(F.array(*[F.lit(b) for b in budgets])).alias("budget"),
    )
    return (
        fanned.groupBy("budget")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("__n") > F.col("budget"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_truncated"),
            F.sum("__n").cast("bigint").alias("tokens_total"),
            F.sum(F.least(F.col("__n"), F.col("budget").cast("bigint")))
            .cast("bigint")
            .alias("tokens_retained"),
        )
        .select(
            F.col("budget").cast("bigint").alias("budget"),
            "n_docs",
            "n_truncated",
            "tokens_total",
            "tokens_retained",
            F.round(F.col("tokens_retained") / F.col("tokens_total"), 6).alias(
                "retention"
            ),
        )
    )


def compression_ratio_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio — the Gopher-style
    repetitiveness heuristic: highly repetitive / boilerplate text
    compresses far below prose (~0.3-0.4 for English), so a low ratio
    flags low-quality documents no token statistic catches.

    Scale shape: embarrassingly parallel ``mapInPandas`` — Arrow
    batches in, one zlib pass per document, no shuffle; this is the
    documented "Python only when unavoidable, always Arrow-batched"
    path (zlib has no SQL twin, so the registered query is rows-only
    and unit tests pin a Python mirror).

    Output: ``<id_col>, raw_bytes, comp_bytes, ratio`` (ratio rounded
    6; empty/NULL docs drop out).
    """
    import zlib

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, raw_bytes long, comp_bytes long, ratio double"
    )

    def score(batches):
        import pandas as pd

        for pdf in batches:
            mask = pdf[text_col].notna()
            pdf = pdf[mask]
            raw = pdf[text_col].map(lambda t: t.encode("utf-8"))
            nz = raw.map(len) > 0
            pdf, raw = pdf[nz], raw[nz]
            comp = raw.map(lambda b: len(zlib.compress(b, level)))
            rawlen = raw.map(len)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "raw_bytes": rawlen.astype("int64"),
                    "comp_bytes": comp.astype("int64"),
                    "ratio": (comp / rawlen).round(6),
                }
            )

    return df.select(id_col, text_col).mapInPandas(score, out_schema)


def compression_ratio_audit(
    df: DataFrame,
    text_col: str,
    key_col: str,
    level: int = 6,
) -> DataFrame:
    """Single-pass execution-forcing audit over
    :func:`compression_ratio_score`'s zlib scorer: rows with a non-NULL
    ``key_col`` (planted fixtures) pass through individually with their
    exact ``(raw_bytes, comp_bytes, ratio)``; all other rows (the
    corpus) are zlib-scored in the SAME Arrow batch loop and folded
    into per-batch partial ``'corpus'`` rows carrying only
    ``(n_docs, Σ raw_bytes)`` — the SQL-derivable accounting that
    proves the Python pass visited every document.

    r9 verdict item 6: the previous x200 shape consumed one scored
    frame from TWO branches (fixture filter + corpus aggregate), so the
    full zlib ``mapInPandas`` pass executed twice — mapInPandas admits
    no pushdown, so the "fixtures only" branch still scanned the whole
    corpus.  Folding the corpus accounting into the batch loop makes
    the downstream aggregate |fixtures| + |batches| rows wide: ONE
    corpus-sized pass total at any scale.

    Output: ``key, n_docs, raw_bytes, comp_bytes, ratio`` — one row per
    fixture key plus one ``'corpus'`` row (comp/ratio NULL there;
    empty/NULL docs drop out, matching the scorer).
    """
    import zlib

    out_schema = (
        "key string, n_docs long, raw_bytes long, comp_bytes long,"
        " ratio double"
    )

    def score(batches):
        import pandas as pd

        for pdf in batches:
            pdf = pdf[pdf[text_col].notna()]
            raw = pdf[text_col].map(lambda t: t.encode("utf-8"))
            nz = raw.map(len) > 0
            pdf, raw = pdf[nz], raw[nz]
            if not len(pdf):
                continue
            comp = raw.map(lambda b: len(zlib.compress(b, level)))
            rawlen = raw.map(len)
            keyed = pdf[key_col].notna().to_numpy()
            parts = []
            if keyed.any():
                parts.append(
                    pd.DataFrame(
                        {
                            "key": pdf[key_col][keyed],
                            "n_docs": 1,
                            "raw_bytes": rawlen[keyed].astype("int64"),
                            "comp_bytes": comp[keyed].astype("int64"),
                            "ratio": (comp[keyed] / rawlen[keyed]).round(6),
                        }
                    )
                )
            n_corpus = int((~keyed).sum())
            if n_corpus:
                parts.append(
                    pd.DataFrame(
                        {
                            "key": ["corpus"],
                            "n_docs": pd.array([n_corpus], dtype="Int64"),
                            "raw_bytes": pd.array(
                                [int(rawlen[~keyed].sum())], dtype="Int64"
                            ),
                            "comp_bytes": pd.array([None], dtype="Int64"),
                            "ratio": [None],
                        }
                    )
                )
            yield pd.concat(parts, ignore_index=True)

    partials = df.select(
        F.col(key_col).cast("string").alias(key_col), text_col
    ).mapInPandas(score, out_schema)
    return partials.groupBy("key").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("raw_bytes").cast("bigint").alias("raw_bytes"),
        F.sum("comp_bytes").cast("bigint").alias("comp_bytes"),
        F.sum("ratio").alias("ratio"),
    )


def chao1_vocab_estimate(df: DataFrame, text_col: str) -> DataFrame:
    """Chao1 richness estimate of the TRUE vocabulary size from the
    observed type counts: ``V + f1^2 / (2 f2)`` (f1 = singleton types,
    f2 = doubleton types) — the ecology estimator that tells a corpus
    builder how much unseen vocabulary remains (the asymptote x145's
    Heaps curve grows toward).  The bias-corrected form
    ``V + f1(f1-1)/(2(f2+1))`` is also reported (defined even when
    f2 = 0).

    Scale shape: token explode -> one vocab hash agg -> ONE summary
    row; everything after the type-count agg is |vocab|-bounded.

    Output (1 row): ``v_obs, f1, f2, chao1, chao1_bc`` (floats rounded
    6; classic chao1 is NULL when f2 = 0).
    """
    from flashml_spark.functions import hashing as H

    types = (
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(H.tokens(F.col(text_col))).alias("__t"))
        .groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    agg = types.agg(
        F.count(F.lit(1)).cast("bigint").alias("v_obs"),
        F.sum(F.when(F.col("__n") == 1, 1).otherwise(0)).cast("bigint").alias("f1"),
        F.sum(F.when(F.col("__n") == 2, 1).otherwise(0)).cast("bigint").alias("f2"),
    )
    chao = F.when(
        F.col("f2") > 0,
        F.col("v_obs") + F.col("f1") * F.col("f1") / (2.0 * F.col("f2")),
    )
    chao_bc = F.col("v_obs") + F.col("f1") * (F.col("f1") - 1) / (
        2.0 * (F.col("f2") + 1)
    )
    return agg.select(
        "v_obs",
        "f1",
        "f2",
        F.round(chao, 6).alias("chao1"),
        F.round(chao_bc, 6).alias("chao1_bc"),
    )


def collocations_g2(
    df: DataFrame, text_col: str, top_k: int = 15, min_count: int = 3
) -> DataFrame:
    """Collocation detection via Dunning's log-likelihood ratio (G²,
    Dunning 1993) over corpus word bigrams: which adjacent word pairs
    co-occur far more than their unigram frequencies predict — the
    statistically-sound alternative to raw PMI (which over-ranks rare
    pairs; G² weights evidence by support).

    For each bigram (a, b) the 2×2 contingency table against all other
    bigram slots: k11 = count(a,b), k12 = count(a,·) − k11,
    k21 = count(·,b) − k11, k22 = N − k11 − k12 − k21, and
    G² = 2·Σ k·ln(k·N / (rowsum·colsum)) with 0·ln(·) = 0.

    Scale shape: one corpus pass explodes positional bigrams; one hash
    agg counts them; two |vocab|-bounded aggs give the left/right
    marginals, joined back by key (never a cross join); the scalar N
    rides a 1-row broadcast.  ln/exp agree bit-for-bit cross-engine on
    one machine (same libm — the repo-wide convention, cf. x140 JSD).

    Output: ``word_a, word_b, n_pair, g2`` — top ``top_k`` by G²
    (ties: ascending words), pairs with fewer than ``min_count``
    occurrences dropped.
    """
    toks = df.where(F.col(text_col).isNotNull()).select(
        H.tokens(F.col(text_col)).alias("__t")
    )
    pairs = (
        toks.select(F.explode(H.word_ngrams(F.col("__t"), 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("k11"))
        .select(
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("wa"),
            F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("wb"),
            "k11",
        )
        # vocab-bounded; checkpointed so the marginal aggs and the join
        # read it instead of re-running the corpus bigram explode 4x
        .localCheckpoint(eager=False)
    )
    left = pairs.groupBy("wa").agg(F.sum("k11").alias("ra"))
    right = pairs.groupBy("wb").agg(F.sum("k11").alias("cb"))
    n_tot = pairs.agg(F.sum("k11").alias("n"))

    def term(k, e):
        return F.when(k > 0, k.cast("double") * F.log(k.cast("double") / e)).otherwise(
            F.lit(0.0)
        )

    j = (
        pairs.join(left, "wa")
        .join(right, "wb")
        .crossJoin(F.broadcast(n_tot))
        .withColumn("k12", F.col("ra") - F.col("k11"))
        .withColumn("k21", F.col("cb") - F.col("k11"))
        .withColumn(
            "k22", F.col("n") - F.col("ra") - F.col("cb") + F.col("k11")
        )
    )
    n = F.col("n").cast("double")
    e11 = F.col("ra") * F.col("cb") / n
    e12 = F.col("ra") * (n - F.col("cb")) / n
    e21 = (n - F.col("ra")) * F.col("cb") / n
    e22 = (n - F.col("ra")) * (n - F.col("cb")) / n
    g2 = 2.0 * (
        term(F.col("k11"), e11)
        + term(F.col("k12"), e12)
        + term(F.col("k21"), e21)
        + term(F.col("k22"), e22)
    )
    return (
        j.where(F.col("k11") >= min_count)
        .select(
            F.col("wa").alias("word_a"),
            F.col("wb").alias("word_b"),
            F.col("k11").cast("bigint").alias("n_pair"),
            F.round(g2, 6).alias("g2"),
        )
        .orderBy(F.desc("g2"), F.asc("word_a"), F.asc("word_b"))
        .limit(top_k)
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_rules(
    df: DataFrame, text_col: str, group_col: str
) -> DataFrame:
    """Gopher-style per-document quality rule screen (Rae et al. 2021,
    table A1 subset), reported as per-group violation counts — the
    corpus triage that says WHICH filter would remove how much of each
    source before any document is actually dropped.

    Rules (violation = outside the published bounds):
      * word count outside [50, 100 000]
      * mean word length outside [3, 10]
      * < 80% of words contain an alphabetic character
      * stop-word fraction < 0.06 (the 8-word canonical list)

    Scale shape: every measure is an array higher-order expression over
    the token array — ONE pass, zero shuffle, no explode; the only agg
    is the per-group rollup.  Output: ``<group>, n_docs, v_wordcount,
    v_wordlen, v_alpha, v_stop, v_any, pass_rate``.
    """
    toks = H.tokens(F.col(text_col))
    n = F.size(toks)
    mean_wl = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    ) / n.cast("double")
    alpha_frac = (
        F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))) / n.cast("double")
    )
    stop_frac = (
        F.size(
            F.filter(
                toks, lambda x: x.isin(*GOPHER_STOPWORDS)
            )
        )
        / n.cast("double")
    )
    flagged = df.where(F.col(text_col).isNotNull()).select(
        F.col(group_col),
        ((n < 50) | (n > 100_000)).cast("long").alias("v_wordcount"),
        ((mean_wl < 3.0) | (mean_wl > 10.0)).cast("long").alias("v_wordlen"),
        (alpha_frac < 0.8).cast("long").alias("v_alpha"),
        (stop_frac < 0.06).cast("long").alias("v_stop"),
    )
    v_any = (
        (F.col("v_wordcount") + F.col("v_wordlen") + F.col("v_alpha") + F.col("v_stop"))
        > 0
    ).cast("long")
    return (
        flagged.withColumn("v_any", v_any)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("v_wordcount").cast("bigint").alias("v_wordcount"),
            F.sum("v_wordlen").cast("bigint").alias("v_wordlen"),
            F.sum("v_alpha").cast("bigint").alias("v_alpha"),
            F.sum("v_stop").cast("bigint").alias("v_stop"),
            F.sum("v_any").cast("bigint").alias("v_any"),
            F.round(
                1.0 - F.sum("v_any") / F.count(F.lit(1)).cast("double"), 6
            ).alias("pass_rate"),
        )
        .orderBy(group_col)
    )


def dsir_importance(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    target_col: str,
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how target-like its hashed-bigram profile is —
    ``log w(doc) = Σ_features count · log(p_target[b] / p_raw[b])``
    with hashed word-bigram features (md5 → ``n_buckets`` buckets,
    Laplace-smoothed bucket probabilities).  The per-group summary says
    which sources to up/down-sample toward the target mixture.

    ``target_col`` is a boolean column marking target-domain docs (the
    target profile is estimated from them; raw = everything).

    Scale shape: one corpus explode to (doc, bucket) counts; bucket
    profiles are two ``n_buckets``-row aggs joined back on the bucket
    key (broadcast-size); per-doc weight is one keyed agg; the final
    rollup is |groups| rows.  Output: ``<group>, n_docs,
    mean_log_weight, pos_share``.
    """
    toks = H.tokens(F.col(text_col))
    grams = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.col(group_col),
            F.col(target_col).alias("__is_t"),
            F.explode(H.word_ngrams(toks, 2)).alias("__g"),
        )
        .select(
            id_col,
            group_col,
            "__is_t",
            (H.md5_long(F.col("__g"), 8) % n_buckets).alias("__b"),
        )
    )
    # ONE corpus explode feeds ONE keyed agg; the bucket profiles and
    # scalar totals all derive from the (doc, bucket) counts frame —
    # never a second scan (lazy checkpoint keeps the four downstream
    # consumers from re-running the explode)
    doc_bucket = (
        grams.groupBy(id_col, group_col, "__is_t", "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=False)
    )
    raw = doc_bucket.groupBy("__b").agg(F.sum("__c").alias("__cr"))
    tgt = (
        doc_bucket.where(F.col("__is_t"))
        .groupBy("__b")
        .agg(F.sum("__c").alias("__ct"))
    )
    n_raw = doc_bucket.agg(F.sum("__c").alias("__nr"))
    n_tgt = doc_bucket.where(F.col("__is_t")).agg(F.sum("__c").alias("__nt"))
    profile = (
        raw.join(tgt, "__b", "left")
        .crossJoin(F.broadcast(n_raw))
        .crossJoin(F.broadcast(n_tgt))
        .select(
            "__b",
            F.log(
                ((F.coalesce(F.col("__ct"), F.lit(0)) + 1.0)
                 / (F.col("__nt") + F.lit(float(n_buckets))))
                / ((F.col("__cr") + 1.0) / (F.col("__nr") + F.lit(float(n_buckets))))
            ).alias("__lr"),
        )
    )
    doc_w = (
        doc_bucket.join(F.broadcast(profile), "__b")
        .groupBy(id_col, group_col)
        .agg(F.sum(F.col("__c") * F.col("__lr")).alias("__w"))
    )
    return (
        doc_w.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("__w"), 6).alias("mean_log_weight"),
            F.round(
                F.sum((F.col("__w") > 0).cast("long"))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("pos_share"),
        )
        .orderBy(group_col)
    )


def stratified_shard_interleave(
    df: DataFrame,
    id_col: str,
    strat_col: str,
    n_strata: int = 10,
    n_shards: int = 8,
) -> DataFrame:
    """Curriculum-flat shard assignment: stratify the corpus into
    ``n_strata`` equal-count buckets of ``strat_col`` (quality score,
    length, ...), then deal each stratum round-robin across ``n_shards``
    — every training shard sees the SAME stratum mix, so no shard is
    accidentally a hard-examples (or junk) shard.  The audit output is
    the (shard, stratum) count grid: by construction the per-stratum
    spread across shards is <= 1 row.

    Scale shape: stratification runs through :func:`~flashml_spark.
    functions.windows.global_ntile` (range partition + offsets — no
    single-partition window over corpus rows); the within-stratum deal
    is a KEYED window (partitionBy stratum — parallel across strata);
    the grid agg is a |n_strata| x |n_shards| frame.  Output:
    ``shard, stratum, n_docs`` ordered by (shard, stratum).
    """
    from pyspark.sql import Window

    from flashml_spark.functions.windows import global_ntile

    tiled = global_ntile(
        df.select(id_col, strat_col),
        strat_col,
        n_strata,
        tiebreak_cols=[id_col],
        out_col="stratum",
    )
    w = Window.partitionBy("stratum").orderBy(F.col(id_col).asc())
    dealt = tiled.withColumn(
        "shard", ((F.row_number().over(w) - 1) % n_shards).cast("int")
    )
    return (
        dealt.groupBy("shard", "stratum")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("shard", "stratum")
    )


def packing_capacity_audit(
    df: DataFrame,
    token_col: str,
    capacities: list[int],
) -> DataFrame:
    """Sequence-length capacity planning: for each candidate training
    sequence capacity, the three costs a pipeline trades off —
    truncation loss (tokens beyond the capacity, if long docs are cut),
    padding waste (pad-to-capacity if each doc gets its own sequence),
    and the concatenation-packing shard count (the :func:`pack_shards`
    regime, where straddling makes waste ~0).  The numbers that decide
    ``max_seq_len`` BEFORE paying for a tokenization+packing run.

    Scale shape: ONE corpus scan crossed with the |capacities| literal
    frame (broadcast), one hash agg keyed by capacity — the output is
    |capacities| rows of exact integer sums; fractions are computed
    from those integers in one written operation order.  Output:
    ``capacity, n_docs, n_overflow, total_tokens, trunc_loss_frac,
    pad_shards, pad_waste_frac, concat_shards`` ordered by capacity.
    """
    spark = df.sparkSession
    caps = spark.createDataFrame(
        [(int(c),) for c in sorted(capacities)], "capacity int"
    )
    t = F.col(token_col).cast("bigint")
    c = F.col("capacity").cast("bigint")
    per = df.select(t.alias("__t")).crossJoin(F.broadcast(caps))
    agg = per.groupBy("capacity").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("__t") > c, 1).otherwise(0))
        .cast("bigint")
        .alias("n_overflow"),
        F.sum("__t").cast("bigint").alias("total_tokens"),
        F.sum(F.greatest(F.col("__t") - c, F.lit(0)))
        .cast("bigint")
        .alias("trunc_loss"),
        F.sum(F.ceil(F.col("__t") / c)).cast("bigint").alias("pad_shards"),
    )
    cc = F.col("capacity").cast("bigint")
    return agg.select(
        "capacity",
        "n_docs",
        "n_overflow",
        "total_tokens",
        F.round(
            F.col("trunc_loss").cast("double")
            / F.col("total_tokens").cast("double"),
            6,
        ).alias("trunc_loss_frac"),
        "pad_shards",
        F.round(
            (F.col("pad_shards") * cc - F.col("total_tokens")).cast("double")
            / (F.col("pad_shards") * cc).cast("double"),
            6,
        ).alias("pad_waste_frac"),
        F.ceil(F.col("total_tokens") / cc).cast("bigint").alias("concat_shards"),
    ).orderBy("capacity")


def shard_checksum_manifest(
    df: DataFrame,
    id_col: str,
    content_col: str,
    n_shards: int = 8,
) -> DataFrame:
    """Reproducibility manifest for a sharded training-data handoff:
    per shard (``id % n_shards``), the row count, content size, and an
    ORDER-FREE content checksum — the artifact two pipelines compare to
    certify they materialized the same shard without re-reading it.

    The checksum is deliberately COMMUTATIVE: per row,
    ``md5(id || ':' || content_key)`` truncated to 15 hex digits (60
    bits, always < 2^63) and SUMMED modulo 2^61−1 per shard.  A
    sequential ``md5(string_agg(... ORDER BY id))`` would be
    order-exact too but forces a per-shard global sort and a
    single-reducer concat — the commutative sum is one map-side-combined
    agg, insensitive to partitioning, and any single-row difference
    still flips it.  (Mersenne-prime modulus keeps the sum in BIGINT in
    every engine.)

    Output: ``shard, n_docs, total_chars, checksum`` ordered by shard.
    The per-row term lives in ``functions.hashing.content_checksum_term``
    so the streaming manifest twin
    (``streaming.manifest.streaming_shard_checksum``) provably sums the
    SAME terms — a converged stream manifest is directly comparable to
    a batch one.
    """
    mod = H.CHECKSUM_MOD
    return (
        df.select(
            (F.col(id_col) % n_shards).alias("shard"),
            # DECIMAL(38,0) terms: a BIGINT Σ of 2^60-scale terms
            # overflows past ~8 rows (ANSI error at scale)
            H.content_checksum_term(
                F.col(id_col), F.col(content_col)
            ).alias("__h"),
            F.length(F.col(content_col).cast("string")).alias("__len"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__len").cast("bigint").alias("total_chars"),
            (F.sum("__h") % F.lit(mod)).cast("bigint").alias("checksum"),
        )
        .orderBy("shard")
    )


def rag_chunk_plan(
    df: DataFrame,
    text_col: str,
    group_col: str,
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Chunking audit for a RAG / retrieval indexing pipeline: sliding
    windows of ``chunk_tokens`` at ``stride`` (overlap = chunk − stride)
    over each document — per source, how many chunks the index will
    hold, how much of the indexed token mass is overlap duplication,
    and how many documents fit in a single chunk.  The arithmetic audit
    that sizes the vector store BEFORE embedding anything.

    Chunks per doc with n tokens: 1 if n <= chunk, else
    ``ceil((n − chunk)/stride) + 1`` (the last window may be short —
    indexed token mass counts actual tokens, min(chunk, n − i·stride)
    per window, which telescopes to ``n + (chunks−1)·(chunk−stride)``
    only when every interior window is full; short tails make the
    closed form ``(chunks−1)·chunk + (n − (chunks−1)·stride)``).

    All-integer arithmetic on the exact token counts — no float until
    the final ROUND(frac, 6).  One scan + one keyed agg to |sources|.
    Output: ``<group_col>, n_docs, n_chunks, single_chunk_docs,
    indexed_tokens, raw_tokens, overlap_frac`` ordered by group.
    """
    c, s = int(chunk_tokens), int(stride)
    if not (0 < s <= c):
        raise ValueError(f"need 0 < stride <= chunk_tokens, got {s}, {c}")
    n = token_count(F.col(text_col)).cast("bigint")
    chunks = F.when(n <= c, F.lit(1).cast("bigint")).otherwise(
        F.ceil((n - c).cast("double") / s).cast("bigint") + 1
    )
    indexed = F.when(n <= c, n).otherwise(
        (chunks - 1) * c + (n - (chunks - 1) * s)
    )
    per = df.select(
        F.col(group_col).alias("g"),
        n.alias("__n"),
        chunks.alias("__c"),
        indexed.alias("__ix"),
    )
    return (
        per.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__c").alias("n_chunks"),
            F.sum(F.when(F.col("__n") <= c, 1).otherwise(0)).alias(
                "single_chunk_docs"
            ),
            F.sum("__ix").alias("indexed_tokens"),
            F.sum("__n").alias("raw_tokens"),
        )
        .select(
            F.col("g").alias(group_col),
            "n_docs",
            "n_chunks",
            "single_chunk_docs",
            "indexed_tokens",
            "raw_tokens",
            F.round(
                (F.col("indexed_tokens") - F.col("raw_tokens")).cast("double")
                / F.col("indexed_tokens").cast("double"),
                6,
            ).alias("overlap_frac"),
        )
        .orderBy(group_col)
    )


def mad_outlier_screen(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier screen on a numeric quality signal:
    median and MAD (median absolute deviation) instead of mean/stddev —
    the screen itself must not be dragged by the outliers it hunts
    (one 10^9-char document moves a mean, not a median).  Flags rows
    with ``|x − median| > k·MAD`` and reports per group.

    Exactness: exact interpolated percentiles over INTEGER values land
    on the 0.5 grid (and deviations on the 0.25 grid) — binary-exact
    doubles in every engine, so the counts are oracle-stable with no
    rounding step at all.

    Scale shape: exact ``percentile`` holds one group's values in
    memory per agg — fine for the |groups|-bounded screens this is for
    (per-language, per-source); swap ``percentile_approx`` in at
    unbounded group cardinality (the audit tolerates sketch error, the
    oracle does not — documented trade).  Three passes: median agg →
    broadcast join → deviation median agg → broadcast join → count.
    Output: ``<group_col>, n_rows, med, mad, n_outliers`` by group.
    """
    v = F.col(value_col).cast("double")
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("med")
    )
    devs = df.join(F.broadcast(med), group_col).withColumn(
        "__dev", F.abs(v - F.col("med"))
    )
    mad = devs.groupBy(group_col).agg(
        F.expr("percentile(__dev, 0.5)").alias("mad")
    )
    return (
        devs.join(F.broadcast(mad), group_col)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.sum(
                F.when(F.col("__dev") > F.lit(float(k)) * F.col("mad"), 1)
                .otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy(group_col)
    )


def source_vocab_divergence(
    df: DataFrame,
    text_col: str,
    group_col: str,
    top_k: int = 20,
) -> DataFrame:
    """Pairwise vocabulary divergence between sources — the mixture-
    design diagnostic that says which corpus components are near-
    duplicates of each other DISTRIBUTIONALLY (merge candidates) and
    which are outliers (upweight candidates).  Distance is total
    variation ``TV = ½ Σ |p_i − q_i|`` over each source's distribution
    on the global top-``top_k`` vocabulary plus an "other" bucket.

    TV instead of KL/JS deliberately: no transcendentals — and no
    per-probability rounding either (ROUND(c/n, 6) hit a half-boundary
    ulp skew between engines at sf0.001): the cross-multiplied integer
    form ``TV(a,b) = Σ|c_i·n_b − d_i·n_a| / (2·n_a·n_b)`` keeps
    EVERYTHING exact integers until one final double division +
    ROUND(6), order-free in every engine (a log-based divergence would
    ride on libm ulps).  The vocabulary is picked deterministically by
    (global count desc, token asc).

    Scale shape: one token explode + two keyed aggs; the pair frame is
    |sources|² × (top_k+1) of POST-AGG rows — never row-level data.
    Output: ``src_a, src_b, tv_divergence`` (src_a < src_b) ordered.
    """
    toks = df.select(
        F.col(group_col).alias("g"),
        F.explode(H.tokens(F.col(text_col))).alias("t"),
    )
    # ONE corpus pass: per-(source, token) counts.  The global vocab,
    # the bucketed per-source counts and the per-source totals are all
    # pure re-aggregations of this vocabulary-sized frame — deriving
    # them here instead of from the row-level explode drops the plan
    # from ~10 corpus scans (no ReusedExchange across the vocab /
    # per / totals / grid / pair-side branches) to 1.
    gt = (
        toks.groupBy("g", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    vocab = (
        gt.groupBy("t")
        .agg(F.sum("c").alias("c"))
        .orderBy(F.desc("c"), "t")
        .limit(top_k)
        .select("t", F.lit(1).alias("__in_vocab"))
    )
    bucketed = gt.join(F.broadcast(vocab), "t", "left").select(
        "g",
        F.when(F.col("__in_vocab").isNotNull(), F.col("t"))
        .otherwise(F.lit("__other__"))
        .alias("tok"),
        "c",
    )
    per = bucketed.groupBy("g", "tok").agg(F.sum("c").alias("c"))
    totals = bucketed.groupBy("g").agg(F.sum("c").alias("n"))
    # densify to the COMPLETE |sources| × (top_k+1) grid before pairing
    # (a join on observed rows alone would silently drop the |c − 0|
    # terms where one source lacks a vocab token)
    grid = totals.select("g", "n").crossJoin(
        bucketed.select("tok").distinct()
    )
    counts = grid.join(per, ["g", "tok"], "left").select(
        "g",
        "tok",
        "n",
        F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c"),
    )
    a = counts.select(
        F.col("g").alias("src_a"),
        "tok",
        F.col("c").alias("ca"),
        F.col("n").alias("na"),
    )
    b = counts.select(
        F.col("g").alias("src_b"),
        "tok",
        F.col("c").alias("cb"),
        F.col("n").alias("nb"),
    )
    pairs = a.join(b, "tok").where(F.col("src_a") < F.col("src_b"))
    num = F.abs(
        F.col("ca").cast("decimal(38,0)") * F.col("nb")
        - F.col("cb").cast("decimal(38,0)") * F.col("na")
    )
    return (
        pairs.groupBy("src_a", "src_b")
        .agg(
            F.sum(num).alias("__num"),
            F.first("na").alias("__na"),
            F.first("nb").alias("__nb"),
        )
        .select(
            "src_a",
            "src_b",
            F.round(
                F.col("__num").cast("double")
                / (
                    F.lit(2).cast("decimal(38,0)")
                    * F.col("__na")
                    * F.col("__nb")
                ).cast("double"),
                6,
            ).alias("tv_divergence"),
        )
        .orderBy("src_a", "src_b")
    )


def lexical_diversity(
    df: DataFrame, text_col: str, group_col: str
) -> DataFrame:
    """Per-source lexical diversity: distinct token types, total tokens,
    hapax legomena (tokens occurring exactly once IN THAT SOURCE), the
    type-token ratio and hapax fraction — the cheap screens for
    template/boilerplate-heavy sources (low TTR) and OCR-noise sources
    (anomalously high hapax mass).  All-integer counting, two ROUND(6)
    at the end.  One explode + keyed aggs; output |sources| rows:
    ``<group_col>, n_tokens, n_types, n_hapax, ttr, hapax_frac``."""
    toks = df.select(
        F.col(group_col).alias("g"),
        F.explode(H.tokens(F.col(text_col))).alias("t"),
    )
    freq = toks.groupBy("g", "t").agg(F.count(F.lit(1)).alias("c"))
    return (
        freq.groupBy("g")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
        )
        .select(
            F.col("g").alias(group_col),
            "n_tokens",
            "n_types",
            "n_hapax",
            F.round(
                F.col("n_types").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("ttr"),
            F.round(
                F.col("n_hapax").cast("double")
                / F.col("n_types").cast("double"),
                6,
            ).alias("hapax_frac"),
        )
        .orderBy(group_col)
    )


def bloom_decontamination_screen(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    bits: int = 4096,
    k: int = 3,
) -> DataFrame:
    """Bloom-filter exact-match decontamination screen, with the
    false-positive rate MEASURED instead of assumed: the eval set's
    content digests populate a ``bits``-bit Bloom filter (``k`` md5-
    derived positions per digest) which probes the training corpus as a
    broadcast bitmap — the O(1)-state screen a pipeline runs on every
    ingestion batch, where the exact digest anti-join (x178's approach)
    would re-shuffle the corpus each time.  The audit joins the flags
    against exact membership to report how many flagged docs are REAL
    contamination vs Bloom collisions at this (bits, k, |eval|)
    operating point — the number that decides whether flagged docs can
    be dropped blindly or must be verified.

    The bitmap ships as ``bits/64`` literal 64-bit words (a 4096-bit
    filter is 64 longs — broadcast-trivial; production sizes of 10^9
    bits are ~16 MB, still a broadcast).  Probing is per-row JVM bit
    arithmetic: ``word[pos >> 6] & (1 << (pos & 63))`` for each of the
    k positions — pure map, zero shuffle on the corpus side.

    Determinism: positions are md5-slice arithmetic (no JVM hashCode),
    so the flagged set is engine-reproducible and the SQL oracle can
    derive it from the same position-set semantics (membership in the
    filter ⇔ all k positions occupied — identical by construction, no
    bitmap mechanics needed in SQL).

    Output: ONE row — ``n_train, n_eval_digests, n_flagged, n_true,
    n_false_pos, fp_rate`` (fp_rate over the CLEAN population, the
    classic Bloom FP definition; ROUND(6)).
    """
    if bits & (bits - 1):
        raise ValueError(f"bits must be a power of two, got {bits}")

    def positions(col):
        digest = F.md5(col.cast("binary"))
        return [
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{i}:"), digest).cast("binary")),
                        1,
                        8,
                    ),
                    16,
                    10,
                )
                .cast("bigint")
                % bits
            )
            for i in range(k)
        ]

    ev = eval_df.select(
        F.md5(F.col(text_col).cast("binary")).alias("__digest"),
        *[p.alias(f"__p{i}") for i, p in enumerate(positions(F.col(text_col)))],
    ).dropDuplicates(["__digest"])
    occupied = sorted(
        r["p"]
        for r in ev.select(
            F.explode(F.array(*[f"__p{i}" for i in range(k)])).alias("p")
        )
        .distinct()
        .collect()  # ≤ |eval|·k ints — the eval benchmark is small by definition
    )
    n_eval = ev.count()
    words = [0] * (bits // 64)
    for p in occupied:
        words[p >> 6] |= 1 << (p & 63)
    # JVM longs are signed: re-express words (and the bit-mask lookup)
    # in two's complement so no literal exceeds 2^63−1; bitwiseAND is
    # bit-level, so sign never affects the membership test
    def _signed(v: int) -> int:
        return v - (1 << 64) if v >= (1 << 63) else v

    from flashml_spark.functions.vector import lit_longs

    warr = lit_longs(_signed(w) for w in words)
    masks = lit_longs(_signed(1 << j) for j in range(64))

    probe_hits = [
        (
            F.element_at(warr, (p / 64).cast("int") + 1).bitwiseAND(
                F.element_at(masks, (p % 64).cast("int") + 1)
            )
            != 0
        )
        for p in positions(F.col(text_col))
    ]
    flagged = probe_hits[0]
    for h in probe_hits[1:]:
        flagged = flagged & h
    eval_digests = ev.select(F.col("__digest").alias("__ed"))
    probed = train.select(
        F.md5(F.col(text_col).cast("binary")).alias("__digest"),
        flagged.cast("int").alias("__flagged"),
    ).join(
        F.broadcast(eval_digests),
        F.col("__digest") == F.col("__ed"),
        "left",
    )
    return probed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train"),
        F.lit(n_eval).cast("bigint").alias("n_eval_digests"),
        F.sum("__flagged").cast("bigint").alias("n_flagged"),
        F.sum(
            F.when(F.col("__ed").isNotNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_true"),
        F.sum(
            F.when(F.col("__ed").isNull() & (F.col("__flagged") == 1), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_false_pos"),
        F.round(
            F.sum(
                F.when(F.col("__ed").isNull() & (F.col("__flagged") == 1), 1)
                .otherwise(0)
            ).cast("double")
            / F.sum(F.when(F.col("__ed").isNull(), 1).otherwise(0)).cast(
                "double"
            ),
            6,
        ).alias("fp_rate"),
    )


def ccnet_perplexity_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lang_col: str,
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020,
    arXiv:1911.00359 §4.3): per language, rank documents by LM quality
    and cut into ``n_buckets`` equal tiles — head = most fluent (used
    as-is), tail = candidate discard.  The LM score is the corpus-MLE
    unigram log-probability (:func:`unigram_logprob_score` — x179's
    CCNet stand-in; higher avg_logp = lower perplexity = better), and
    ranking uses the ROUND-6 score with an id tiebreak so the tile
    boundary is identical in every engine (raw float ordering could
    swap last-ulp neighbors across engines).

    Scale shape: x179's pipeline + one lang-keyed ntile window + one
    (lang, bucket) agg — output is |langs| x n_buckets rows.

    Output: ``lang, bucket (1=head), n_docs, total_tokens,
    mean_logp`` (rounded 6).
    """
    from pyspark.sql import Window

    scored = unigram_logprob_score(df, text_col, id_col)
    langs = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.col(lang_col)
    )
    w = Window.partitionBy(lang_col).orderBy(
        F.col("avg_logp").desc(), F.col(id_col)
    )
    tiled = scored.join(langs, id_col).withColumn(
        "bucket", F.ntile(n_buckets).over(w)
    )
    return (
        tiled.groupBy(lang_col, "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(F.avg("avg_logp"), 6).alias("mean_logp"),
        )
        .orderBy(lang_col, "bucket")
    )


def curriculum_packing_audit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seq_len: int = 2048,
) -> DataFrame:
    """Curriculum-ordered token-stream packing: documents enter the
    stream best-quality-first (the corpus-unigram LM score — x179/
    x281's CCNet stand-in — descending, id tiebreak) and pack into
    fixed sequences; per sequence, the boundary stats plus the
    QUALITY ENVELOPE (min/max member score) — the readout that shows
    the curriculum gradient across training order (easy->hard
    schedules, Bengio et al. 2009, applied corpus-side).

    min/max (never a float sum) keep the envelope engine-exact on the
    round-6 scores; the stream order key is the same round-6 score.

    Scale shape: x179's scorer + the packing pipeline with the
    curriculum order key + one seq-keyed agg.

    Output: ``seq, n_docs, n_docs_started, n_docs_ended,
    tokens_filled, q_hi, q_lo``.
    """
    L = int(seq_len)
    scored = unigram_logprob_score(df, text_col, id_col).select(
        F.col(id_col), F.col("avg_logp")
    )
    ordered = df.join(scored, id_col)
    spans = token_stream_spans(
        ordered, text_col, id_col, L,
        order_col="avg_logp", order_ascending=False,
    )
    return (
        spans.join(scored, id_col)
        .groupBy("seq")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("starts_here").cast("bigint").alias("n_docs_started"),
            F.sum("ends_here").cast("bigint").alias("n_docs_ended"),
            F.sum("span_tokens").cast("bigint").alias("tokens_filled"),
            F.max("avg_logp").alias("q_hi"),
            F.min("avg_logp").alias("q_lo"),
        )
    )


_PAR_POS_LIMIT = 1 << 20  # paragraphs per doc bound for the BIGINT order key


def paragraph_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """CCNet paragraph-level deduplication (Wenzek et al. 2020 §3.1 —
    the hash-dedup pass CCNet runs on NORMALIZED paragraphs before LM
    scoring; the step removes boilerplate like cookie banners that
    repeats across pages): split each document on newlines, hash each
    paragraph's normalized form (lowercase, digits folded to ``0``,
    trimmed), keep only the corpus-wide FIRST occurrence of every
    duplicated paragraph (first = smallest ``(doc, position)``), and
    rebuild each document from its surviving paragraphs in original
    order.  Empty-after-normalization paragraphs (blank lines) are
    never deduplicated — collapsing them would mangle document
    structure rather than remove boilerplate.

    Determinism: ownership is the exact BIGINT min of
    ``doc_id * 2^20 + position`` (docs are bounded to 2^20 paragraphs
    — raises otherwise), so every engine picks the same survivor.

    Scale shape: paragraph posexplode (corpus-linear), ONE hash-keyed
    agg for the owner key, one hash-keyed join back, and a doc-keyed
    rebuild whose ``collect_list`` is bounded by the document's own
    paragraph count (the x93 chunking class).  Hot boilerplate
    paragraphs skew the hash agg exactly like hot shingles (x139) —
    bounded by agg combiners, not a pair join.

    Output (one row per non-null-text doc): ``id_col, n_paragraphs,
    n_kept, dedup_text``.
    """
    pars = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), "\n")).alias(
                "pos", "par"
            ),
        )
    )
    norm = F.trim(F.regexp_replace(F.lower(F.col("par")), "[0-9]", "0"))
    ord_key = F.when(
        F.col("pos") >= _PAR_POS_LIMIT,
        F.raise_error(
            F.lit("paragraph_dedup: document exceeds 2^20 paragraphs")
        ).cast("bigint"),
    ).otherwise(F.col(id_col) * F.lit(_PAR_POS_LIMIT) + F.col("pos"))
    keyed = pars.select(
        id_col,
        "pos",
        "par",
        F.when(F.length(norm) > 0, F.md5(norm)).alias("__h"),
        ord_key.alias("__ord"),
    )
    owners = (
        keyed.where(F.col("__h").isNotNull())
        .groupBy("__h")
        .agg(F.min("__ord").alias("__owner"))
    )
    kept = (
        keyed.join(owners, "__h", "left")
        .where(F.col("__h").isNull() | (F.col("__ord") == F.col("__owner")))
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("par")))
                ),
                lambda x: x["par"],
            ),
        ).alias("dedup_text"),
    )
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), "\n")).cast("bigint").alias(
            "n_paragraphs"
        ),
    )
    # LEFT join: a doc whose every paragraph was owned elsewhere keeps
    # its row (n_kept 0, empty text) — dropping it would silently
    # shrink the corpus frame
    return base.join(rebuilt, id_col, "left").select(
        id_col,
        "n_paragraphs",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
    )


def bigram_logprob_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lam: float = 0.7,
) -> DataFrame:
    """Per-document mean INTERPOLATED BIGRAM log-probability under the
    corpus's own model — one LM order up from
    :func:`unigram_logprob_score`, toward the KenLM score CCNet
    actually ranks with (Wenzek et al. 2020 §4.2; Jelinek-Mercer
    interpolation): ``p(w2|w1) = lam * c12/c1+ + (1-lam) * c2/T``
    where ``c12`` is the corpus bigram count, ``c1+`` the count of
    ``w1`` as a bigram PREFIX (so the conditional normalizes to 1
    exactly), ``c2/T`` the unigram MLE.  Every bigram observed in the
    corpus has ``c12 >= 1``, so the log is always finite — smoothing
    beyond interpolation isn't needed for a self-scored corpus.

    Scale shape: one bigram explode (corpus-linear), one bigram-vocab
    agg + a prefix re-agg of that (vocab-sized), THREE keyed joins
    back (gram, prefix, unigram — each against a vocab-sized frame),
    one per-doc agg, one 1-row total broadcast.  No window.

    The token frame is tokenized ONCE and materialized
    (``localCheckpoint``): four consumers read it (the bigram explode
    twice — count side and join probe side — the unigram explode, and
    the doc-id base), and without the pin each consumer re-executes the
    ENTIRE upstream subtree — ruinous when ``df`` is itself a pipeline
    (x294 feeds this the paragraph-dedup + PII-redaction output, which
    otherwise ran ~4x per action).  The pin is one corpus-token pass
    written once (disk-backed storage) versus four recomputations of
    upstream — the guide's materialize-to-truncate tradeoff, applied
    because the reuse count is 4, not 2.

    Output (one row per non-null-text doc): ``id_col, n_bigrams``
    (0 for docs under 2 tokens, whose score is NULL), ``avg_logp2``
    (rounded 6).
    """
    if not 0.0 < lam <= 1.0:
        raise ValueError(f"lam must be in (0, 1], got {lam}")
    toks = _bounded_pin(
        df.where(F.col(text_col).isNotNull()).select(
            F.col(id_col), H.tokens(F.col(text_col)).alias("__ts")
        )
    )
    occ = toks.select(
        id_col,
        F.explode(
            F.when(
                F.size("__ts") >= 2,
                F.sequence(F.lit(1), F.size("__ts") - 1),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("i"),
        "__ts",
    ).select(
        id_col,
        F.element_at("__ts", F.col("i")).alias("w1"),
        F.element_at("__ts", F.col("i") + 1).alias("w2"),
    )
    c12 = occ.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")
    )
    c1p = c12.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1p"))
    uni = (
        toks.select(F.explode("__ts").alias("w2"))
        .groupBy("w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c2"))
    )
    total = uni.agg(F.sum("c2").cast("bigint").alias("total"))
    term = F.log(
        F.lit(lam) * (F.col("c12") / F.col("c1p"))
        + F.lit(1.0 - lam) * (F.col("c2") / F.col("total"))
    )
    per_doc = (
        occ.join(c12, ["w1", "w2"])
        .join(c1p, "w1")
        .join(uni, "w2")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.avg(term), 6).alias("avg_logp2"),
        )
    )
    base = toks.select(F.col(id_col))
    return base.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
        "avg_logp2",
    )


def packed_attention_audit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seq_len: int = 2048,
) -> DataFrame:
    """Attention-mask accounting for the packed token stream
    (:func:`token_stream_spans`): when packed sequences train WITHOUT
    block-diagonal attention, every cross-document token pair inside a
    sequence leaks attention between unrelated documents — the
    contamination-bleed number behind the "concat-and-chunk vs
    attention-mask" decision (cf. the x275 boundary counts; this is
    the quadratic readout).  Per sequence: total pairs ``T²``,
    intra-document pairs ``Σ span²`` (exact — spans partition the
    sequence), and the leaked cross-document fraction.

    Scale shape: the packing pipeline's spans frame + ONE seq-keyed
    agg — all-BIGINT until the final round-6 fraction.

    Output: ``seq, n_docs, tokens_filled, total_pairs, intra_pairs,
    cross_pairs, cross_frac``.
    """
    spans = token_stream_spans(df, text_col, id_col, seq_len)
    agg = spans.groupBy("seq").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("span_tokens").cast("bigint").alias("tokens_filled"),
        F.sum(F.col("span_tokens") * F.col("span_tokens"))
        .cast("bigint")
        .alias("intra_pairs"),
    )
    total = (F.col("tokens_filled") * F.col("tokens_filled")).cast("bigint")
    return agg.select(
        "seq",
        "n_docs",
        "tokens_filled",
        total.alias("total_pairs"),
        "intra_pairs",
        (total - F.col("intra_pairs")).cast("bigint").alias("cross_pairs"),
        F.round(
            (total - F.col("intra_pairs")) / total.cast("double"), 6
        ).alias("cross_frac"),
    )


def span_corruption_plan(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_len: int = 3,
    period: int = 20,
    offset: int = 1,
) -> DataFrame:
    """Deterministic T5-style span-corruption schedule (Raffel et al.
    2020 §3.1.4: mask ~15% of tokens in mean-length-3 spans, one
    sentinel per span): mask a ``span_len``-token span starting at
    every ``period``-th position (1-based, first at ``offset``),
    clamped at the document end — the REPRODUCIBLE twin of the
    paper's random schedule at rate ``span_len/period`` (defaults
    3/20 = the paper's 15%), which is what a distributed preprocessing
    pass wants anyway: the mask is a pure function of (doc, position),
    so re-runs, shards and engines agree without coordination.

    Spans never overlap (requires ``period >= span_len``), so the
    masked count is closed-form — this is a PURE MAP over token
    counts, no explode, no shuffle: at 100 TB it rides the scan.

    Output (one row per non-null-text doc): ``id_col, n_tokens,
    n_spans`` (= sentinel count), ``n_masked, mask_ratio`` (round 6).
    """
    if period < span_len:
        raise ValueError(
            f"period {period} < span_len {span_len}: spans would overlap"
        )
    if offset < 1:
        raise ValueError(f"offset must be >= 1 (1-based), got {offset}")
    n = F.size(H.tokens(F.col(text_col))).cast("bigint")
    n_spans = F.when(
        n >= offset,
        (F.floor((n - F.lit(offset)) / F.lit(period)) + 1).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    last_start = F.lit(offset) + (n_spans - 1) * F.lit(period)
    n_masked = F.when(
        n_spans > 0,
        (n_spans - 1) * F.lit(span_len)
        + F.least(F.lit(span_len).cast("bigint"), n - last_start + 1),
    ).otherwise(F.lit(0).cast("bigint"))
    return df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        n.alias("n_tokens"),
        n_spans.alias("n_spans"),
        n_masked.cast("bigint").alias("n_masked"),
        F.round(n_masked / n.cast("double"), 6).alias("mask_ratio"),
    )
