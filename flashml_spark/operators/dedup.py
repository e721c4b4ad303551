"""Deduplication operators for large-scale training-data pipelines.

Five families, each designed for the 100 TB shape:

  * exact           — hash-groupBy on a content digest (one shuffle on the
                      digest; AQE handles skew from giant duplicate groups)
  * minhash + LSH   — per-row signatures (no shuffle), band-bucket groupBy,
                      candidate verification by jaccard
  * simhash         — per-row 64/16-bit fingerprint, groupBy fingerprint
  * n-gram jaccard  — shingle-explode + co-partitioned self-join with a
                      document-frequency cap to kill hot-shingle skew
  * embedding       — cosine near-dup via LSH bucketing (see similarity.py)

All engine-portable hashing comes from ``functions.hashing`` (md5-derived),
so every step is SQL-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flashml_spark.functions import hashing as H
from flashml_spark.functions.pins import unpin


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group identical content by md5 digest; emit per-group keeper (min id)
    and duplicate count.  ``h, keep_id, dup_cnt``."""
    return (
        df.select(H.md5_hex(F.col(text_col)).alias("h"), F.col(id_col))
        .groupBy("h")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_cnt"))
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep exactly one row (min id) per distinct content value.

    Window-free formulation: join back on (digest, keeper id) — the join is
    on the digest key both sides, so it co-partitions with the groupBy
    shuffle and AQE turns it into a local join.
    """
    keep = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def with_minhash_signature(
    df: DataFrame, text_col: str, num_hashes: int = 4, shingle_n: int = 1,
    prefix: str = "sig",
) -> DataFrame:
    """Append ``num_hashes`` minhash signature columns (``sig0..sigN``).

    Signatures are computed per-row with array higher-order functions —
    zero shuffle; at 100 TB this is a pure map stage.  The md5 digest
    arrays are materialized in their own select stage so the k signature
    mins reuse ⌈k/4⌉ digests instead of recomputing md5 per hash.
    """
    toks = H.tokens(F.col(text_col))
    shingles = H.word_ngrams(toks, shingle_n)
    digest_cols = [f"__mh_d{b}" for b in range((num_hashes + 3) // 4)]
    staged = df.select(
        "*",
        *[
            d.alias(name)
            for d, name in zip(H.minhash_digests(shingles, num_hashes), digest_cols)
        ],
    )
    sigs = H.minhash_components_from_digests(digest_cols, num_hashes)
    out = staged
    for i, s in enumerate(sigs):
        out = out.withColumn(f"{prefix}{i}", s)
    return out.drop(*digest_cols)


def minhash_dedup_groups(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 4, shingle_n: int = 1
) -> DataFrame:
    """Near-dup groups: docs whose FULL minhash signature matches (single
    band of ``num_hashes`` rows ⇒ high precision).  Emits
    ``keep_id, dup_cnt`` per signature bucket."""
    sigged = with_minhash_signature(df, text_col, num_hashes, shingle_n)
    sig_cols = [f"sig{i}" for i in range(num_hashes)]
    return (
        sigged.groupBy(*sig_cols)
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_cnt"))
        .select("keep_id", "dup_cnt", *sig_cols)
    )


def band_key_array(num_hashes: int, bands: int) -> Column:
    """The LSH band-key array over ``sig0..sigN`` columns: one string key
    per band (``'<band>|<sig>|<sig>…'``).

    NULL-propagating concat (not concat_ws, which SKIPS nulls): a doc with
    fewer than ``shingle_n`` tokens has an empty shingle set, so its minhash
    components are NULL — concat_ws would collapse every such doc onto the
    band keys '0','1',... and make all short docs mutual candidates.  With
    F.concat the whole key goes NULL (matching SQL '||' semantics in the
    DuckDB oracle); callers filter the NULL keys before bucketing.
    Shared by the batch candidate join and the streaming signature store,
    so a pair bucketed by one is bucketed by the other."""
    rows = num_hashes // bands
    return F.array(
        *[
            F.concat(
                F.lit(str(b)),
                *[
                    e
                    for r in range(rows)
                    for e in (F.lit("|"), F.col(f"sig{b * rows + r}").cast("string"))
                ],
            )
            for b in range(bands)
        ]
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 2,
    sigged: DataFrame | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs: signature split into ``bands`` bands of
    ``num_hashes/bands`` rows; docs sharing ANY band bucket are candidates.

    Scale shape: explode to (band_id, band_key, doc) — one shuffle on the
    band key; self-join within buckets is co-partitioned.  Output distinct
    ``(id_a, id_b)`` with id_a < id_b.

    Callers that ALSO need the signatures (agreement counting, banding
    profiles) pass their ``with_minhash_signature`` frame as ``sigged``
    so the corpus pays ONE signature pass, not two — the r9 fix for the
    planner/semi-hard-negative double-pass (the caller is responsible
    for ``sigged`` matching ``num_hashes``/``shingle_n``).
    """
    if sigged is None:
        sigged = with_minhash_signature(df, text_col, num_hashes, shingle_n)
    exploded = sigged.select(
        F.col(id_col),
        F.explode(band_key_array(num_hashes, bands)).alias("band_key"),
    ).filter(F.col("band_key").isNotNull())
    # pairs via per-bucket id lists instead of a self-join: a self-join
    # would re-run the whole signature pipeline for each side; this keeps
    # ONE signature pass and ONE shuffle (groupBy band_key).  Pair count
    # per bucket is O(|bucket|²) either way — that's inherent to LSH.
    buckets = exploded.groupBy("band_key").agg(
        F.sort_array(F.collect_set(id_col)).alias("ids")
    )
    n = F.size("ids")
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, n - i - 1),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.filter(n >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )


def with_simhash(df: DataFrame, text_col: str, bits: int = 16, out_col: str = "simhash") -> DataFrame:
    """Append a SimHash fingerprint column (per-row, shuffle-free).

    Token hashes are materialized in their own select stage so the per-bit
    vote expressions reuse them instead of recomputing md5 ``bits`` times.
    """
    staged = df.select(
        "*", H.token_hashes(H.tokens(F.col(text_col))).alias("__th")
    )
    return staged.withColumn(out_col, H.simhash_from_hashes(F.col("__th"), bits)).drop("__th")


def simhash_dedup_groups(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """Exact-fingerprint SimHash buckets: ``simhash, keep_id, dup_cnt``.
    (Hamming-radius matching is layered on top via the LSH-candidate path.)"""
    return (
        with_simhash(df, text_col, bits)
        .groupBy("simhash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_cnt"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 2,
    threshold: float = 0.5,
    max_df: int = 100,
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity above a threshold.

    Plan shape (scales to 100 TB):
      1. per-doc DISTINCT shingles (map + one groupBy doc)
      2. shingle document-frequency cap ``max_df`` — drops stop-shingles,
         which both bounds the join fan-out (skew!) and matches standard
         near-dup practice
      3. self-join on shingle (co-partitioned), count common per pair
      4. join per-doc shingle counts (broadcast-sized after distinct? no —
         keyed join on id, AQE picks the strategy)
      5. jaccard = common / (|A| + |B| - common), filter, round

    Output: ``id_a, id_b, jaccard``.
    """
    toks = H.tokens(F.col(text_col))
    shingled = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(H.word_ngrams(toks, n))).alias("s"),
    )
    df_cap = shingled.groupBy("s").agg(F.count(F.lit(1)).alias("df_s")).filter(
        F.col("df_s") <= max_df
    )
    kept = shingled.join(df_cap.select("s"), "s")
    sizes = kept.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))

    a = kept.alias("a")
    b = kept.alias("b")
    common = (
        a.join(b, "s")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("n_sh").alias("nb"))
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _cc_driver(sym0: DataFrame) -> DataFrame:
    """Bounded DRIVER-side connected components for edge sets under the
    caller's budget (the :func:`graph._kcore_driver` /
    :func:`graph._bfs_driver` pattern): vectorized min-label propagation
    with pointer doubling over integer node indices.  ``np.unique``
    sorts nodes ascending, so the minimal INDEX in a component is the
    minimal VALUE — exactly the distributed loop's min-label fixpoint.
    Integer index arithmetic only, so the result is identical."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    spark = sym0.sparkSession
    pdf = sym0.toPandas()
    src = pdf["src"].to_numpy()
    dst = pdf["dst"].to_numpy()
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    ui, vi = inv[: len(src)], inv[len(src):]
    lab = np.arange(len(nodes), dtype=np.int64)
    while True:
        old = lab
        nxt = lab.copy()
        # one-hop neighbor min (unbuffered scatter-min, both directions
        # arrive via the symmetrized edge list)
        np.minimum.at(nxt, ui, lab[vi])
        lab = nxt
        # pointer doubling to a fixpoint: labels are node indices, so a
        # label's own label is an O(1) gather
        while True:
            hop = lab[lab]
            if np.array_equal(hop, lab):
                break
            lab = hop
        if np.array_equal(lab, old):
            break
    out_pdf = pd.DataFrame(
        {"id": pd.Series(nodes), "component": pd.Series(nodes[lab])}
    )
    dt = sym0.schema["src"].dataType
    schema = T.StructType(
        [T.StructField("id", dt), T.StructField("component", dt)]
    )
    return spark.createDataFrame(out_pdf, schema=schema)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    driver_edge_budget: int = 5_000_000,
) -> DataFrame:
    """Transitive duplicate groups from candidate pairs: iterative min-label
    propagation with pointer-doubling — each round takes the min over
    one-hop neighbor labels, then follows the winning label's OWN label one
    more hop (path-shortcutting, GraphX/Kiveris-style), so long chains
    collapse in far fewer than diameter rounds.

    Edge sets under ``driver_edge_budget`` symmetrized rows (~80 MB of
    bigint pairs at the 5M default) solve as a vectorized exact pass on
    the driver (:func:`_cc_driver`, the bounded-budget pattern shared
    with :func:`graph.kcore` / :func:`graph.bfs_hops`): dedup graphs
    are a tiny fraction of the corpus, and at that size the ~4
    scheduler-bound jobs EVERY distributed round pays dominate the
    actual label propagation.  The count that gates the budget is the
    same one that sizes the loop parallelism — no extra action.

    Past the budget each round is two co-partitioned joins + one groupBy
    on the vertex id; the convergence check is a join-free filter on the
    round's own output (old label carried alongside).  Early-exits when
    a round changes nothing.  Output: ``id, component`` (component = min
    id in the group).
    """
    # Symmetrize with ONE explode pass, not union(edges, swapped): the
    # union plan carries the (often expensive) upstream pair-join subtree
    # TWICE — both branches re-execute it inside the same materializing
    # job (guide §2.4: duplicated subtrees are hidden second passes).
    sym0 = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                )
            ).alias("__e")
        )
        .select("__e.src", "__e.dst")
        .persist()
    )
    # Size the per-round parallelism from the MEASURED edge count (AQE
    # posture, applied to the loop): dedup graphs are a tiny fraction of
    # the corpus, and iterating a 4-way shuffle at cluster-default
    # parallelism makes every round pay fixed scheduling cost for mostly
    # empty tasks.  ~500k edges per partition; grows unbounded with the
    # graph, so a 10B-edge graph still gets ~20k-way shuffles.
    n_edges = sym0.count()
    if n_edges == 0:
        # Empty graph: the loop below would still pay two localCheckpoint
        # rounds plus their repartition/convergence jobs to discover that
        # nothing propagates.  The result is definitionally empty.
        sym0.unpersist()
        return pairs.select(
            F.col(id_a).alias("id"), F.col(id_a).alias("component")
        ).limit(0)
    if n_edges <= driver_edge_budget:
        try:
            return _cc_driver(sym0)
        finally:
            sym0.unpersist()
    n_parts = max(1, int(n_edges / 500_000) + 1)
    sym = sym0.repartition(n_parts, "dst").localCheckpoint()
    sym0.unpersist()
    # localCheckpoint each round: iterative joins otherwise nest the plan
    # exponentially (planner OOM long before data size matters).  Keeping
    # sym/labels hash-partitioned on their join keys lets each round's
    # sort-merge path reuse the layout (LogicalRDD preserves partitioning).
    pinned = labels = (
        sym.select(F.col("src").alias("id")).distinct().withColumn("component", F.col("id"))
    ).repartition(n_parts, "id").localCheckpoint()

    converged = False
    for _ in range(max_iterations):
        nbr_min = (
            sym.join(labels.select(F.col("id").alias("dst"), "component"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("component").alias("nbr"))
        )
        prop = labels.join(nbr_min, "id", "left").select(
            "id",
            F.col("component").alias("old"),
            F.least(F.col("component"), F.coalesce("nbr", "component")).alias("mid"),
        )
        # pointer doubling: labels are vertex ids, so the winning label's
        # current label is one join away — shortcut through it (checkpointed
        # previous round, so the extra join does not grow lineage)
        hop = labels.select(F.col("id").alias("mid"), F.col("component").alias("cc2"))
        new_labels = (
            prop.join(hop, "mid", "left")
            .select(
                "id",
                "old",
                F.least(F.col("mid"), F.coalesce("cc2", "mid")).alias("component"),
            )
            .repartition(n_parts, "id")
            .localCheckpoint()
        )
        changed = (
            new_labels.filter(F.col("component") != F.col("old")).limit(1).count()
        )
        # the eager checkpoint above fully materialized new_labels, so the
        # previous round's blocks can never be read again — free them now
        unpin(pinned)
        pinned = new_labels
        labels = new_labels.select("id", "component")
        if changed == 0:
            converged = True
            break
    if not converged:
        # min-label propagation advances one hop per round; exiting via the
        # iteration cap means some labels are still mid-flight and the
        # components are silently WRONG — fail loudly instead.
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            "iterations (graph diameter exceeds the cap); raise max_iterations"
        )
    unpin(sym)
    return labels


def minhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int | str = 4,
    shingle_n: int = 2,
    target_recall: float = 0.9,
) -> DataFrame:
    """End-to-end near-dup removal: banded-LSH candidates → transitive
    components → keep the min-id document of every duplicate group.

    ``bands="auto"`` (r8 VERDICT item 6) closes the loop the banding
    planner was built for: :func:`plan_lsh_bands` measures THIS corpus's
    candidate-similarity profile once and picks the cheapest
    factorization whose expected recall meets ``target_recall`` — the
    b/r dial becomes data-driven end-to-end instead of a fixed default.
    """
    if bands == "auto":
        bands, _ = plan_lsh_bands(
            df, text_col, id_col, num_hashes, target_recall, shingle_n
        )
    pairs = minhash_lsh_candidates(df, text_col, id_col, num_hashes, bands, shingle_n)
    comp = connected_components(pairs)
    dupes = comp.filter(F.col("id") != F.col("component")).select("id")
    return df.join(dupes, df[id_col] == dupes["id"], "left_anti")


def plan_lsh_bands(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    target_recall: float = 0.9,
    shingle_n: int = 2,
    probe_bands: int | None = None,
) -> tuple[int, list[dict]]:
    """Data-driven (bands, rows) choice from the measured banding plan
    (:func:`lsh_banding_planner`): the CHEAPEST factorization — fewest
    bands, i.e. least candidate mass, since candidate pairs grow with
    every extra band's buckets — whose expected recall on THIS corpus's
    similarity profile meets ``target_recall``.  Falls back to the
    highest-recall setting when no factorization reaches the target
    (and that shortfall is visible in the returned plan).

    The probe pass defaults to the widest factorization (one row per
    band) so the profile is measured with the most permissive net the
    signature budget allows.  Returns ``(bands, plan_rows)`` where
    ``plan_rows`` is the full |factorizations|-row plan for audit —
    a bounded driver-side list (≤ divisors(num_hashes) entries).
    """
    probe = probe_bands if probe_bands is not None else num_hashes
    plan = [
        r.asDict()
        for r in lsh_banding_planner(
            df, text_col, id_col, num_hashes, probe, shingle_n
        ).collect()  # ≤ |divisors(num_hashes)| rows
    ]
    meeting = [r for r in plan if r["expected_recall"] >= target_recall]
    if meeting:
        chosen = min(meeting, key=lambda r: r["bands"])
    else:
        chosen = max(plan, key=lambda r: (r["expected_recall"], -r["bands"]))
    return int(chosen["bands"]), plan


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs within a SimHash Hamming radius, via bit-band LSH.

    The ``bits``-bit fingerprint splits into ``bands`` equal slices; docs
    sharing ANY slice value become candidates (one shuffle on the band
    key), then candidates are verified with ``bit_count(a XOR b)``.  By
    pigeonhole the recall is EXACT for ``max_hamming <= bands - 1``: a
    pair differing in ≤ bands-1 bit positions must agree on at least one
    whole band.  The fingerprint frame is checkpointed (one signature
    pass), then pairs come from a co-partitioned band-key self-join.

    Output: ``id_a, id_b, hamming`` (id_a < id_b).
    """
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the exact-recall bound "
            f"bands-1={bands - 1}; raise bands or lower the radius"
        )
    width = bits // bands
    mask = (1 << width) - 1
    fp = with_simhash(df, text_col, bits, out_col="__fp")
    # band key as ONE long (band index in the bits above the slice):
    # the self-join hashes/shuffles 8 fixed bytes per row instead of a
    # built "b|slice" string (guide §2.3 narrower types), and the
    # single-long equi-join key lets Spark build a LongHashedRelation /
    # long-keyed exchange.  Same (band, slice) partition of the pairs,
    # so candidates — and the verified output — are identical.
    band_keys = F.array(
        *[
            (
                F.shiftright(F.col("fp"), b * width).bitwiseAND(mask)
                + F.lit(b * (mask + 1)).cast("bigint")
            )
            for b in range(bands)
        ]
    )
    # materialize the tiny (id, fp) frame ONCE (16 bytes/row) so the
    # signature hash pass never re-runs per join side; a short-bits
    # fingerprint space saturates (|bucket| ≈ corpus/2^width), so the
    # within-bucket pair emission is O(|bucket|²) — a codegen'd
    # co-partitioned self-join handles that shape (AQE splits hot
    # buckets), where per-bucket array pair-building would serialize it
    fp_small = fp.select(F.col(id_col).alias("id"), F.col("__fp").alias("fp"))
    fp_small = fp_small.localCheckpoint()
    ex = fp_small.select("id", "fp", F.explode(band_keys).alias("band_key"))
    a = ex.select("band_key", F.col("id").alias("id_a"), F.col("fp").alias("fp_a"))
    b = ex.select("band_key", F.col("id").alias("id_b"), F.col("fp").alias("fp_b"))
    return (
        a.join(b, "band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def ngram_overlap_contamination(
    corpus: DataFrame,
    probe: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
) -> DataFrame:
    """Test-set contamination scan: corpus documents sharing at least one
    distinct n-gram with ANY probe (held-out) document, with the count of
    distinct shared n-grams per corpus document.

    Plan: distinct shingles per side (map + per-doc dedup inside the row —
    no shuffle), inner join on the shingle (the probe side is the small
    one — broadcast when it fits), then one hash-agg on the corpus id.
    Real decontamination runs use long n-grams (n=13 in common practice)
    where the join is sparse; short n on tiny synthetic data just makes
    the check non-vacuous.

    Output: ``<id_col>, n_shared`` (corpus docs with ≥1 shared n-gram).
    """
    def shingles(df: DataFrame, out_id: str) -> DataFrame:
        toks = H.tokens(F.col(text_col))
        return df.select(
            F.col(id_col).alias(out_id),
            F.explode(F.array_distinct(H.word_ngrams(toks, n))).alias("s"),
        )

    corpus_sh = shingles(corpus, "__cid")
    probe_sh = shingles(probe, "__pid").select("s").distinct()
    return (
        corpus_sh.join(probe_sh, "s")
        .groupBy(F.col("__cid").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def keep_best_per_group(
    df: DataFrame,
    group_cols: list,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Keeper id per duplicate group by ARGMAX score (ties → min id), as a
    single hash-agg: ``max_by(id, (score, -id))`` — one shuffle on the
    group key, no ranked window, no join-back.  Pair with
    ``with_minhash_signature`` / ``exact_dedup_groups`` output to keep the
    best-quality document of every near-dup cluster instead of the min id.

    Output: group cols + ``keep_id, dup_cnt``.
    """
    return df.groupBy(*group_cols).agg(
        F.max_by(
            F.col(id_col), F.struct(F.col(score_col), (-F.col(id_col)).alias("nid"))
        ).alias("keep_id"),
        F.count(F.lit(1)).alias("dup_cnt"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Corpus snapshot comparison by content digest — the audit pass
    between two pipeline runs: per id, whether it was ``added``,
    ``removed``, ``changed`` (same id, different content), or
    ``unchanged``.  One full-outer join on the id key; digests compare
    content without shipping text twice.  Presence on each side is an
    explicit flag from that side, NOT digest nullness — ``md5(NULL)`` is
    NULL, so a null-text row would otherwise masquerade as absent and get
    misreported as added/removed.  NULL text digests as the empty string
    (distinct from any real content, equal to NULL on the other side).
    Output: ``<id_col>, status``."""
    digest = lambda c: H.md5_hex(F.coalesce(c, F.lit("")))  # noqa: E731
    o = old.select(
        F.col(id_col),
        digest(F.col(text_col)).alias("__ho"),
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        F.col(id_col),
        digest(F.col(text_col)).alias("__hn"),
        F.lit(True).alias("__in_new"),
    )
    joined = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("__in_old").isNull(), "added")
        .when(F.col("__in_new").isNull(), "removed")
        .when(F.col("__ho") != F.col("__hn"), "changed")
        .otherwise("unchanged")
    )
    return joined.select(id_col, status.alias("status"))


def dup_cluster_size_histogram(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Duplication-audit histogram: how many exact-duplicate clusters exist
    at each size — the one-glance answer to "how duplicated is this
    corpus?" before/after a dedup pass.  Two hash aggregations, both with
    map-side partials: digest → cluster size (corpus-keyed), then
    size → cluster count (|distinct sizes| rows, tiny).
    Output: ``cluster_size, n_clusters``."""
    groups = exact_dedup_groups(df, text_col, id_col)
    return groups.groupBy(F.col("dup_cnt").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


def apply_upserts(
    base: DataFrame,
    changes: DataFrame,
    id_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Apply a change-set to a corpus snapshot — the incremental-update
    half of corpus maintenance (``snapshot_diff`` is the audit half):
    ``changes`` carries the base schema plus ``op`` ∈ {'upsert','delete'};
    an upsert inserts or replaces the row with that id, a delete drops it.

    One full-outer join on the id key (co-keyed shuffle; change-sets are
    normally ≪ base, so AQE broadcasts the change side).  Column payload
    is carried as a struct per side, so arbitrary schemas work without
    per-column code.  Rows never widen: output schema == base schema.
    """
    cols = base.columns
    b = base.select(F.col(id_col).alias("__id"), F.struct(*cols).alias("__b"))
    c = changes.select(
        F.col(id_col).alias("__id"),
        F.struct(*cols).alias("__c"),
        F.col(op_col).alias("__op"),
    )
    joined = b.join(c, "__id", "full_outer")
    keep = F.when(F.col("__op") == "delete", F.lit(None)).otherwise(
        F.coalesce(F.col("__c"), F.col("__b"))
    )
    return (
        joined.select(keep.alias("__r"))
        .filter(F.col("__r").isNotNull())
        .select(*[F.col(f"__r.{c}").alias(c) for c in cols])
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_n: int = 1,
    bitset_max_vocab: int = 4096,
) -> DataFrame:
    """EXACT all-pairs token Jaccard ≥ ``threshold`` via prefix filtering
    (Bayardo/Chaudhuri all-pairs similarity search).

    ``ngram_jaccard_pairs`` prunes with a document-frequency cap — cheap,
    but it CHANGES the result (stop-shingle pairs vanish).  Prefix
    filtering prunes provably losslessly: order every document's tokens
    by ascending global frequency (rarest first, ties by token); two sets
    with Jaccard ≥ t MUST share a token within each one's first
    ``|d| - ceil(t * |d|) + 1`` tokens, so joining on prefix tokens finds
    every qualifying pair, and candidates are verified with the true
    intersection.  Rare-token prefixes keep the join fan-out small
    exactly where a raw token join explodes (hot tokens land in the
    suffix and never join).

    Plan: token distinct → |vocab| df agg (broadcast orders the ranks) →
    per-doc rank window (per-key sort, parallel) → prefix self-join on
    the token → distinct candidates → one co-keyed verification join +
    hash agg.  Output: ``id_a, id_b, jaccard`` (id_a < id_b, rounded 6).
    """
    import math  # noqa: F401  (ceil via SQL, kept for the formula's readability)

    from flashml_spark.functions.windows import global_cumsum

    words = H.tokens(F.col(text_col))
    units = words if shingle_n == 1 else H.word_ngrams(words, shingle_n)
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(units)).alias("s"),
    )
    # Lazy checkpoint + one tiny agg over the |vocab|-sized frame surface
    # |vocab| AND the doc-id bounds to the driver at no extra corpus pass
    # (global_cumsum pins this frame anyway — the x152 pattern): |vocab|
    # gates the bitset verification below, the id bounds gate the packed
    # candidate key (min/max doc ride the dfreq partials the groupBy
    # already computes).
    dfreq = (
        toks.groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("df_s"),
            F.min("doc").alias("__mnd"),
            F.max("doc").alias("__mxd"),
        )
        .localCheckpoint(eager=False)
    )
    _vstats = dfreq.agg(
        F.count(F.lit(1)).alias("nv"),
        F.min("__mnd").alias("mn"),
        F.max("__mxd").alias("mx"),
    ).first()
    n_vocab = int(_vstats["nv"])
    dfreq = dfreq.select("s", "df_s")
    # Dense integer unit ids (1..|vocab|, scale-safe global rank over the
    # |vocab|-sized frame): every downstream join/array op works on
    # bigints instead of shingle STRINGS — the verification intersections
    # and the candidate join key get cheap equality/hashing, and the
    # broadcast token-set arrays shrink.  The id order mirrors the token
    # order, so (df_s, sid) ranks identically to (df_s, s).
    vids = (
        global_cumsum(dfreq.withColumn("__one", F.lit(1)), "s", ["__one"], prefix="__id")
        .select("s", F.col("__id__one").cast("long").alias("sid"), "df_s")
    )
    # n_tok rides the SAME doc-partitioned window pass as the rank (a
    # whole-partition count needs no ordering, so no extra exchange or
    # sort) instead of a separate toks->agg branch + join.  The finished
    # frame is materialized ONCE (localCheckpoint): the prefix self-join
    # (both sides), the verification arrays and the size columns all
    # read these blocks — without the pin the scan->tokenize->df-agg->
    # rank subtree re-executes for EVERY downstream branch (16 parquet
    # scans, zero ReusedExchange in the r11 before-plan).  At 100 TB the
    # trade is one |toks| materialization vs ~16 corpus re-reads.
    ranked = (
        toks.join(vids, "s")
        .select("doc", "sid", "df_s")
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("doc").orderBy(
                    F.col("df_s").asc(), F.col("sid").asc()
                )
            ),
        )
        .withColumn(
            "n_tok", F.count(F.lit(1)).over(Window.partitionBy("doc"))
        )
        .localCheckpoint()
    )
    prefix_len = F.col("n_tok") - F.ceil(F.lit(threshold) * F.col("n_tok")) + 1
    # The rank window leaves the frame hash-partitioned on doc, and AQE
    # coalesces that exchange by its (small) shuffle size — but everything
    # downstream of it (the prefix self-join's fan-out, the distinct, the
    # array intersections) would then inherit the coalesced 2-3 tasks and
    # serialize.  Explicit-count round-robin repartitions are the one
    # shuffle AQE neither removes as redundant nor re-coalesces, so they
    # pin the parallelism where the downstream work actually is.
    spread = max(df.sparkSession.sparkContext.defaultParallelism, 16)
    prefix = (
        ranked.filter(F.col("__rk") <= prefix_len)
        .select("doc", "sid", "__rk", "n_tok")
        .repartition(spread)
    )

    # PPJoin filters on top of the prefix join, both lossless:
    # - size ratio: J >= t forces t*|A| <= |B| <= |A|/t;
    # - positional: a shared token at rank i of A and j of B (both docs
    #   ordered by the SAME global (df, token) order) bounds the overlap
    #   by min(i,j) + min(|A|-i, |B|-j); the pair survives only if the
    #   TIGHTEST such bound still reaches the equivalent-overlap
    #   threshold alpha = t*(|A|+|B|)/(1+t).  A 1e-9 slack keeps the
    #   float comparison conservative (alpha is rational; overlap is an
    #   integer; the exact verify below re-checks every survivor anyway).
    a, b = prefix.alias("a"), prefix.alias("b")
    eps = 1e-9
    occ_bound = F.least(F.col("a.__rk"), F.col("b.__rk")) + F.least(
        F.col("a.n_tok") - F.col("a.__rk"), F.col("b.n_tok") - F.col("b.__rk")
    )
    filtered = (
        a.join(b, "sid")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .filter(
            (F.col("b.n_tok") >= F.lit(threshold) * F.col("a.n_tok") - eps)
            & (F.col("a.n_tok") >= F.lit(threshold) * F.col("b.n_tok") - eps)
        )
    )
    # The candidate agg runs over the RAW prefix-join fan-out (the
    # operator's biggest frame).  When doc ids are integral, non-negative
    # and < 2^31 — bounds ridden on the dfreq agg the operator already
    # pays (the x164 pattern; no extra job) — (id_a, id_b) packs
    # injectively into one bigint, so the multi-million-row partial
    # aggregation and its exchange group on 8 key bytes instead of the
    # 32-byte (id_a, id_b, na, nb) tuple (guide §2.3 narrower types; the
    # size columns are functions of the pair, so a within-group ``max``
    # reproduces them exactly).
    from pyspark.sql import types as _T

    _idt = ranked.schema["doc"].dataType
    _pk_ok = (
        isinstance(
            _idt, (_T.ByteType, _T.ShortType, _T.IntegerType, _T.LongType)
        )
        and _vstats["mn"] is not None
        and int(_vstats["mn"]) >= 0
        and int(_vstats["mx"]) < (1 << 31)
    )
    if _pk_ok:
        shift = F.lit(1 << 32).cast("bigint")
        cand = (
            filtered.select(
                (
                    F.col("a.doc").cast("bigint") * shift
                    + F.col("b.doc").cast("bigint")
                ).alias("__pk"),
                F.col("a.n_tok").alias("na"),
                F.col("b.n_tok").alias("nb"),
                occ_bound.alias("__ob"),
            )
            .groupBy("__pk")
            .agg(
                F.min("__ob").alias("__ub"),
                F.max("na").alias("na"),
                F.max("nb").alias("nb"),
            )
            .select(
                F.shiftright("__pk", 32).cast(_idt).alias("id_a"),
                F.col("__pk")
                .bitwiseAND(F.lit((1 << 32) - 1))
                .cast(_idt)
                .alias("id_b"),
                "na",
                "nb",
                "__ub",
            )
        )
    else:
        cand = (
            filtered.select(
                F.col("a.doc").alias("id_a"),
                F.col("b.doc").alias("id_b"),
                F.col("a.n_tok").alias("na"),
                F.col("b.n_tok").alias("nb"),
                occ_bound.alias("__ob"),
            )
            .groupBy("id_a", "id_b", "na", "nb")
            .agg(F.min("__ob").alias("__ub"))
        )
    cand = cand.filter(
        F.col("__ub")
        >= F.lit(threshold) * (F.col("na") + F.col("nb")) / (1.0 + threshold)
        - eps
    )
    # Verification carries each doc's token-ID SET as one bigint array row
    # (never an exploded candidate x tokens join — that multiplies
    # candidates by doc length; and never string arrays — int equality is
    # what makes 4M+ intersections cheap).  Sizes ride along from the
    # candidate stage; `ranked` is already doc-partitioned by its window.
    #
    # Small vocabularies (|vocab| <= 4096, driver-known from the dfreq
    # count) verify with FIXED-WIDTH BITSETS instead: each doc's set is
    # ceil(|vocab|/64) longs, and |A∩B| is a zip_with AND + bit_count —
    # O(words) per pair with no hashing, vs the hash-probe
    # array_intersect whose cost is O(|A|+|B|).  Same integer overlap,
    # same jaccard, bit-identical output; bigger vocabularies keep the
    # array path (a 100 TB shingle vocab is far past the gate).
    use_bits = n_vocab <= bitset_max_vocab
    if use_bits:
        n_words = int(n_vocab // 64) + 1
        bitmap = F.expr(
            f"transform(sequence(0, {n_words - 1}), w -> "
            "aggregate(arr, 0L, (acc, s) -> "
            "IF(CAST(s DIV 64 AS INT) = w, "
            "acc | SHIFTLEFT(1L, CAST(s % 64 AS INT)), acc)))"
        )
        arrs = (
            ranked.groupBy("doc")
            .agg(F.collect_list("sid").alias("arr"))
            .select("doc", bitmap.alias("arr"))
        )
        common = F.expr(
            "aggregate(zip_with(arr_a, arr_b, (x, y) -> bit_count(x & y)),"
            " 0, (acc, v) -> acc + v)"
        ).cast("int")
    else:
        arrs = ranked.groupBy("doc").agg(F.collect_list("sid").alias("arr"))
        common = F.size(F.array_intersect("arr_a", "arr_b"))
    aa = arrs.select(F.col("doc").alias("id_a"), F.col("arr").alias("arr_a"))
    bb = arrs.select(F.col("doc").alias("id_b"), F.col("arr").alias("arr_b"))
    # Candidate rows are narrow (two ids), so AQE coalesces the group-by's
    # output into very few partitions — and the EXPENSIVE part (two array
    # joins + intersection) would then run on those few tasks.  Re-spread
    # candidates first.  The array side carries one row per document: NO
    # broadcast hint — AQE picks BHJ while it fits and falls back to a
    # keyed join when |docs| outgrows the executor (a forced broadcast
    # would OOM at corpus scale).
    paired = (
        cand.repartition(spread)
        .join(aa, "id_a")
        .join(bb, "id_b")
        .withColumn("common", common)
    )
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return paired.filter(F.round(jac, 6) >= threshold).select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_edits: int = 3,
    prefix_chars: int = 40,
) -> DataFrame:
    """Near-dup pairs by Levenshtein distance <= ``max_edits`` on the
    lowercased first ``prefix_chars`` characters — the classic title /
    short-string fuzzy match.

    Pruning is LOSSLESS by segment blocking (the PassJoin partition
    scheme): split one string of a qualifying pair into ``max_edits + 1``
    contiguous segments — by pigeonhole at least one segment survives all
    edits untouched, so it occurs VERBATIM in the other string, shifted by
    at most ``max_edits`` positions.  CRITICAL detail (a hypothesis
    counterexample caught the naive version missing 'baa' vs 'b aa'):
    the segmentation that matters is the PARTNER's — segment boundaries
    depend on string LENGTH, so a doc must emit probe substrings for
    EVERY partner length within +-k of its own, each using THAT length's
    segment geometry.  Segments join probes on (partner_len, segment
    index, substring).

    Fan-out per doc: (k+1) segment rows + up to (2k+1)(k+1)(2k+1) probe
    rows — constants in k, independent of corpus size; the join is
    selective because a ~``prefix_chars/(k+1)``-char verbatim substring
    match is a strong filter.  Unlike length banding, this prunes even
    when every string has identical length.  Strings of length <= k (no
    guaranteed non-empty segment) pair through a broadcast side channel.
    Only candidates pay the O(len^2) Levenshtein verify.  Output:
    ``id_a, id_b, edits``.
    """
    k = max_edits
    # pin the (id, prefix) projection ONCE: six plan branches consume it
    # (segments, probes, both short-channel sides, both verify sides) and
    # each would otherwise re-read the full text column from parquet —
    # the checkpoint is |docs| × ~prefix_chars bytes, the re-scans are
    # corpus-sized (12 parquet scans → 0 in the x134 plan)
    keyed = df.select(
        F.col(id_col).alias("doc"),
        F.coalesce(
            F.lower(F.substring(F.col(text_col), 1, prefix_chars)), F.lit("")
        ).alias("p"),
    ).localCheckpoint()
    L = F.length("p")

    def seg_geom(lam, i):
        """1-based start and length of segment i under a length-``lam``
        segmentation (first ``lam mod (k+1)`` segments get the extra
        char).  ``lam`` is a Column; ``i`` is an int or a Column —
        the ONE home of the partition formula, shared by the segment
        and probe sides (the pigeonhole losslessness argument needs
        both sides on identical geometry)."""
        ic = F.lit(i) if isinstance(i, int) else i
        base = F.floor(lam / (k + 1)).cast("int")
        extra = lam - base * (k + 1)
        start = F.lit(1) + base * ic + F.least(ic, extra)
        ln = base + F.when(ic < extra, 1).otherwise(0)
        return start, ln

    # segments: this doc's own geometry, keyed by (own length, i, sub)
    seg_structs = []
    for i in range(k + 1):
        st, ln = seg_geom(L, i)
        seg_structs.append(
            F.struct(
                F.lit(i).alias("i"),
                F.col("p").substr(st, ln).alias("sub"),
            )
        )
    segs = (
        keyed.select(
            "doc", L.alias("lam"), F.explode(F.array(*seg_structs)).alias("g")
        )
        .select("doc", "lam", F.col("g.i").alias("i"), F.col("g.sub").alias("sub"))
        .filter(F.length("sub") > 0)
    )

    # probes: for every partner length lam in [L-k, L+k], every substring
    # with THAT length's segment-i geometry, starting within +-k of the
    # segment's home position (pigeonhole shift bound), clamped to valid
    # substring starts in THIS doc.  Generated GENERICALLY: one explode
    # over the (2k+1)(k+1) literal (d, i) grid with the geometry as
    # column math, instead of (2k+1)(k+1) separately-unrolled transform
    # arrays — the unrolled form compiled an 84-branch projection whose
    # codegen alone cost ~2 s per fresh plan at k=3 (r11 batch 16);
    # the row multiset is identical by construction.
    di_grid = F.array(
        *[
            F.struct(F.lit(d).alias("d"), F.lit(i).alias("i"))
            for d in range(-k, k + 1)
            for i in range(k + 1)
        ]
    )
    g = keyed.select(
        "doc", "p", L.alias("l"), F.explode(di_grid).alias("g")
    ).select(
        "doc",
        "p",
        "l",
        (F.col("l") + F.col("g.d")).alias("lam"),
        F.col("g.i").alias("i"),
    )
    st, ln = seg_geom(F.col("lam"), F.col("i"))
    lo = F.greatest(F.lit(1), st - k)
    hi = F.least(F.col("l") - ln + 1, st + k)
    positions = F.when(
        (F.col("lam") >= 1) & (ln >= 1) & (lo <= hi), F.sequence(lo, hi)
    ).otherwise(F.expr("CAST(array() AS array<int>)"))
    probes = (
        g.withColumn("__ln", ln)
        .select("doc", "lam", "i", "p", "__ln", F.explode(positions).alias("pos"))
        .select(
            "doc",
            "lam",
            "i",
            F.col("p").substr(F.col("pos"), F.col("__ln")).alias("sub"),
        )
        .filter(F.length("sub") > 0)
    )

    sl = segs.select(F.col("doc").alias("d1"), "lam", "i", "sub")
    pr = probes.select(F.col("doc").alias("d2"), "lam", "i", "sub").distinct()
    seg_cand = (
        sl.join(pr, ["lam", "i", "sub"])
        .filter(F.col("d1") != F.col("d2"))
        .select(
            F.least("d1", "d2").alias("id_a"),
            F.greatest("d1", "d2").alias("id_b"),
        )
    )
    # Strings with length <= k have no guaranteed non-empty segment —
    # pair them directly against everything within the k length bound.
    # This side is degenerate-short docs only, so the broadcast is tiny.
    shorts = keyed.filter(F.length("p") <= k).select(
        F.col("doc").alias("d1"), F.length("p").alias("l1")
    )
    short_cand = (
        F.broadcast(shorts)
        .join(
            keyed.select(F.col("doc").alias("d2"), F.length("p").alias("l2")),
            F.col("d1") != F.col("d2"),
        )
        .filter(F.abs(F.col("l1") - F.col("l2")) <= k)
        .select(
            F.least("d1", "d2").alias("id_a"),
            F.greatest("d1", "d2").alias("id_b"),
        )
    )
    cand = seg_cand.unionAll(short_cand).distinct()
    # pin the verify width — AQE would coalesce the narrow candidate
    # shuffle and serialize the Levenshtein stage (same trap as the
    # prefix-filter join; see SCALE.md)
    spread = max(df.sparkSession.sparkContext.defaultParallelism, 16)
    cand = cand.repartition(spread)
    # no broadcast hint on the |docs|-sized prefix payload: AQE picks
    # BHJ while it fits and falls back to a keyed join at corpus scale
    pa = keyed.select(F.col("doc").alias("id_a"), F.col("p").alias("pa"))
    pb = keyed.select(F.col("doc").alias("id_b"), F.col("p").alias("pb"))
    return (
        cand.join(pa, "id_a")
        .join(pb, "id_b")
        .withColumn("edits", F.levenshtein("pa", "pb"))
        .filter(F.col("edits") <= max_edits)
        .select("id_a", "id_b", "edits")
    )
def prefix_containment(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_len: int = 20,
) -> DataFrame:
    """Documents that are a STRICT prefix of some other document — the
    truncated-duplicate class (crawler cutoffs, re-scraped pages with
    appended footers) that exact-hash dedup misses because the digests
    differ.

    Scale shape: a pair (A prefix-of B) requires the first ``block_len``
    characters to agree verbatim, so candidates come from an equi-join on
    that fixed-width block — never an all-pairs or LIKE scan — and each
    candidate is verified with one substr equality.  Documents SHORTER
    than ``block_len`` can't produce the join key; they pair through a
    broadcast side channel against the corpus (the same pattern as the
    short-string channel in the edit-distance join), which is empty on
    corpora whose minimum length clears the block.  Strictness
    (len(A) < len(B)) excludes exact duplicates — those are
    :func:`exact_dedup`'s job.  Output: distinct contained ``id_col``
    rows.
    """
    base = df.select(id_col, text_col).where(
        F.col(text_col).isNotNull() & (F.length(text_col) > 0)
    )
    longd = base.where(F.length(text_col) >= block_len)
    shortd = base.where(F.length(text_col) < block_len)

    key = F.substring(F.col(text_col), 1, block_len)
    a = longd.select(
        F.col(id_col).alias("__ida"),
        F.col(text_col).alias("__ta"),
        key.alias("__k"),
    )
    b = longd.select(
        F.col(id_col).alias("__idb"),
        F.col(text_col).alias("__tb"),
        key.alias("__k"),
    )
    main = (
        a.join(b, "__k")
        .where(
            (F.length("__ta") < F.length("__tb"))
            & (F.substring(F.col("__tb"), 1, F.length("__ta")) == F.col("__ta"))
        )
        .select(F.col("__ida").alias(id_col))
    )
    # Short-doc side channel: |shorts| is tiny by construction (length
    # under block_len); broadcast them against the full corpus and test
    # the prefix predicate directly.
    side = (
        F.broadcast(
            shortd.select(
                F.col(id_col).alias("__ida"), F.col(text_col).alias("__ta")
            )
        )
        .join(
            base.select(
                F.col(id_col).alias("__idb"), F.col(text_col).alias("__tb")
            ),
            (F.length("__ta") < F.length("__tb"))
            & (F.substring(F.col("__tb"), 1, F.length("__ta")) == F.col("__ta")),
        )
        .select(F.col("__ida").alias(id_col))
    )
    return main.unionByName(side).distinct()


def minhash_accuracy_audit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.6,
    shingle_n: int = 2,
    num_hashes: int = 8,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Sketch-calibration audit: on the EXACT near-duplicate pairs (the
    lossless prefix-filter join), compare the minhash Jaccard estimate —
    fraction of equal signature components — against the true Jaccard.
    This is the measurement that tells a pipeline how many hashes its
    banded-LSH dedup actually needs at a given threshold, using the
    sketches it already computes.

    Scale shape: pairs come from :func:`prefix_filter_jaccard_pairs`
    (bounded candidates); signatures are a pure map stage; the audit
    joins |pairs| rows against the |docs| signature frame on each side
    (keyed) and reduces to ONE summary row: ``n_pairs, mean_abs_err,
    max_abs_err, bias`` (estimate − truth, rounded to 6).

    The exact pair join is the dominant cost; a pipeline that has
    already materialized it (e.g. it ran the dedup first) passes the
    frame via ``pairs=`` (columns ``id_a, id_b, jaccard``) and the
    audit becomes two keyed signature joins plus a 1-row agg — nothing
    exact is recomputed.  Default (``pairs=None``) stays standalone and
    computes the truth set itself.
    """
    if pairs is None:
        pairs = prefix_filter_jaccard_pairs(
            df, text_col, id_col, threshold, shingle_n
        )
    sig_cols = [f"sig{i}" for i in range(num_hashes)]
    # signatures are consumed by BOTH sides of the pair join: project to
    # id + sigs and materialize once instead of re-running the scan +
    # digest map per side (two corpus scans at 100 TB otherwise)
    sigged = (
        with_minhash_signature(
            df.select(id_col, text_col), text_col, num_hashes=num_hashes,
            shingle_n=shingle_n,
        )
        .select(id_col, *sig_cols)
        .localCheckpoint()
    )
    a = sigged.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"a_{c}") for c in sig_cols],
    )
    b = sigged.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"b_{c}") for c in sig_cols],
    )
    matches = sum(
        ((F.col(f"a_sig{i}") == F.col(f"b_sig{i}")).cast("int") for i in range(num_hashes)),
        F.lit(0),
    )
    est = matches.cast("double") / float(num_hashes)
    err = est - F.col("jaccard")
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.avg(F.abs(err)), 6).alias("mean_abs_err"),
            F.round(F.max(F.abs(err)), 6).alias("max_abs_err"),
            F.round(F.avg(err), 6).alias("bias"),
        )
    )


def weighted_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_n: int = 2,
    bitset_max_vocab: int = 4096,
) -> DataFrame:
    """EXACT all-pairs WEIGHTED Jaccard >= ``threshold`` with idf weights
    — rare shared shingles count more than boilerplate, the similarity
    a curation pipeline actually wants when templates dominate.  Weights
    are ``w(s) = ln(1 + N/df(s))`` (strictly positive; no zero-weight
    degenerate tokens), and ``J_w(A,B) = W(A∩B) / W(A∪B)``.

    Pruning is the weighted generalization of prefix filtering, lossless
    prefix-PREFIX by the first-shared-token argument: every document
    orders its tokens by the SAME global comparator (weight desc, id
    asc), and prefix(A) is the shortest head whose SUFFIX weighs
    ``< t*W(A)``.  If ``J_w >= t`` then ``W(A∩B) >= t*W(A)`` (union
    contains A), so the FIRST shared token u (in the global order) must
    lie inside prefix(A) — were it in the suffix, every shared token
    would be too (they all come at-or-after u), capping the intersection
    below ``t*W(A)`` — and by the identical argument u is inside
    prefix(B).  So a prefix-prefix equi-join on the token finds every
    qualifying pair; the weighted size-ratio filter
    ``t*max(W_A, W_B) <= min(W_A, W_B)`` prunes further.  (Hypothesis
    re-proves losslessness against brute force.)

    Verification is bigint-id ``array_intersect`` per candidate (the
    x132 trick — never struct arrays, whose equality costs ~10x).  When
    the driver-known bounds allow it (|vocab| < 2³¹ and N < 2³²), each
    unit id PACKS its document frequency into the low 32 bits
    (``rank << 32 | df`` — strictly monotone in the rank, so ordering,
    joins and intersections are unchanged), and the shared weight sum
    is ONE array ``aggregate`` recomputing ``ln(1 + N/df)`` from the
    unpacked df — no explode, no join back to the |vocab| weight dim,
    no per-pair agg shuffle.  Small vocabularies (≤ 4096, the x132
    bitset gate) additionally prefilter with a fixed-width bitset
    intersection COUNT — ``cw ≤ min(wmax·common, wa, wb)`` and jaccard
    is monotone in cw, so a below-threshold upper bound losslessly
    certifies exclusion and the exact weighted sum (identical addends,
    identical fold order) runs only on survivors.
    Past the bounds, the fallback explodes the SHARED ids only —
    bounded by actual intersection mass — and joins them to the weight
    dim.  Output: ``id_a, id_b, wjaccard`` (id_a < id_b, rounded 6).
    """
    from flashml_spark.functions.windows import global_cumsum

    words = H.tokens(F.col(text_col))
    units = words if shingle_n == 1 else H.word_ngrams(words, shingle_n)
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(units)).alias("s"),
    )
    n_docs = df.select(id_col).count()  # one scalar to the driver
    # The lazy checkpoint + count replaces no extra corpus pass:
    # global_cumsum pins its ranged input anyway, so the tokenize+agg
    # runs exactly once either way — the count just surfaces |vocab| to
    # the driver, which gates the packed-id verification below.
    dfreq = (
        toks.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df_s"))
        .localCheckpoint(eager=False)
    )
    n_vocab = dfreq.count()
    pack = n_vocab < (1 << 31) and n_docs < (1 << 32)
    # NOTE (r11): pinning vids+ranked with eager localCheckpoints was
    # tried and MEASURED SLOWER at sf0.1 (7.6 -> 9.9 s): the two
    # blocking materializations serialize the pipeline and defeat
    # column pruning through the checkpoint, costing more than the
    # optimizer's branch re-execution here.  Left as recomputed trees.
    rank = F.col("__id__one").cast("long")
    sid_expr = (
        F.shiftleft(rank, 32).bitwiseOR(F.col("df_s")) if pack else rank
    )
    vids = (
        global_cumsum(dfreq.withColumn("__one", F.lit(1)), "s", ["__one"], prefix="__id")
        .select(
            "s",
            sid_expr.alias("sid"),
            F.log(1.0 + F.lit(float(n_docs)) / F.col("df_s")).alias("w"),
        )
    )
    ranked = (
        toks.join(vids, "s")
        .select("doc", "sid", "w")
        .withColumn(
            "__cum_before",
            F.sum("w").over(
                Window.partitionBy("doc")
                .orderBy(F.col("w").desc(), F.col("sid").asc())
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            - F.col("w"),
        )
        .withColumn("__wtot", F.sum("w").over(Window.partitionBy("doc")))
    )
    eps = 1e-9
    spread = max(df.sparkSession.sparkContext.defaultParallelism, 16)
    # token at rank r is in the prefix iff the weight AT AND AFTER it
    # still reaches t*W(A): W_total - cum_before >= t*W_total - eps
    prefix = (
        ranked.filter(
            F.col("__wtot") - F.col("__cum_before")
            >= F.lit(threshold) * F.col("__wtot") - eps
        )
        .select("doc", "sid", F.col("__wtot").alias("wt"))
        .repartition(spread)
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, "sid")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .filter(
            (F.col("b.wt") >= F.lit(threshold) * F.col("a.wt") - eps)
            & (F.col("a.wt") >= F.lit(threshold) * F.col("b.wt") - eps)
        )
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.col("a.wt").alias("wa"),
            F.col("b.wt").alias("wb"),
        )
        .distinct()
    )
    # NOTE (r11): re-deriving wa/wb from the array frame (to shrink the
    # distinct key) was tried and MEASURED SLOWER — the per-doc total
    # must then come from the __wtot window, which forces the window
    # sort into both array-join branches that column pruning otherwise
    # strips to (doc, sid).  Keep the totals riding the candidate rows.
    arrs = ranked.groupBy("doc").agg(F.collect_list("sid").alias("arr"))
    use_bits = pack and 0 < n_vocab <= bitset_max_vocab
    if use_bits:
        # Small-vocab COUNT prefilter (r11, the x132 bitset gate): the
        # candidate frame first joins ONLY fixed-width bitsets
        # (ceil(|vocab|/64) longs per doc — the attach joins stay
        # broadcast-sized; carrying the sid arrays alongside doubled
        # the estimated row width and flipped them to sort-merge,
        # measured ruinous) and computes |A∩B| as zip_with AND +
        # bit_count — O(|vocab|/64) per pair, no hashing.  cw <=
        # min(wmax·common, wa, wb) and jaccard is strictly monotone in
        # cw while cw_ub <= min(wa, wb), so jac_ub < t - 1e-6 certifies
        # round(jac, 6) < t (round moves a value by at most 5e-7) — the
        # prefilter is LOSSLESS.  The handful of SURVIVORS then join
        # back to the sid arrays and verify with the IDENTICAL
        # aggregate as the generic packed path below — bit-identical
        # output by construction.
        wmax = vids.agg(F.max("w")).first()[0]  # one scalar (pinned dim)
        n_words = int(n_vocab // 64) + 1
        bitmap = F.expr(
            f"transform(sequence(0, {n_words - 1}), w -> "
            "aggregate(arr, 0L, (acc, s) -> "
            "IF(CAST((SHIFTRIGHT(s, 32) - 1) DIV 64 AS INT) = w, "
            "acc | SHIFTLEFT(1L, CAST((SHIFTRIGHT(s, 32) - 1) % 64 AS INT)),"
            " acc)))"
        )
        bits = arrs.select("doc", bitmap.alias("bits"))
        ba = bits.select(F.col("doc").alias("id_a"), F.col("bits").alias("bits_a"))
        bbb = bits.select(F.col("doc").alias("id_b"), F.col("bits").alias("bits_b"))
        pre = cand.repartition(spread).join(ba, "id_a").join(bbb, "id_b")
        common = F.expr(
            "aggregate(zip_with(bits_a, bits_b, (x, y) -> bit_count(x & y)),"
            " 0, (acc, v) -> acc + v)"
        )
        cw_ub = F.least(
            F.lit(float(wmax)) * F.col("__common").cast("double"),
            F.col("wa"),
            F.col("wb"),
        )
        jac_ub = cw_ub / (F.col("wa") + F.col("wb") - cw_ub)
        cand = (
            pre.withColumn("__common", common)
            .filter((F.col("__common") > 0) & (jac_ub >= threshold - 1e-6))
            .select("id_a", "id_b", "wa", "wb")
        )
    aa = arrs.select(F.col("doc").alias("id_a"), F.col("arr").alias("arr_a"))
    bb = arrs.select(F.col("doc").alias("id_b"), F.col("arr").alias("arr_b"))
    paired = cand.repartition(spread).join(aa, "id_a").join(bb, "id_b")
    if pack:
        # ln(1 + N/df) from the unpacked low-32 df — the same double
        # expression the weight dim computes, evaluated inside ONE array
        # aggregate over the shared ids; pairs with empty intersections
        # surface as 0.0 and are dropped (the fallback never emits them)
        cw = paired.withColumn(
            "__cw",
            F.aggregate(
                F.array_intersect("arr_a", "arr_b"),
                F.lit(0.0),
                lambda acc, x: acc
                + F.log(
                    1.0
                    + F.lit(float(n_docs)) / x.bitwiseAND(F.lit(0xFFFFFFFF))
                ),
            ),
        ).filter(F.col("__cw") > 0.0)
    else:
        shared = paired.select(
            "id_a", "id_b", "wa", "wb",
            F.explode(F.array_intersect("arr_a", "arr_b")).alias("sid"),
        )
        cw = (
            shared.join(vids.select("sid", "w"), "sid")
            .groupBy("id_a", "id_b", "wa", "wb")
            .agg(F.sum("w").alias("__cw"))
        )
    jac = F.col("__cw") / (F.col("wa") + F.col("wb") - F.col("__cw"))
    return cw.filter(F.round(jac, 6) >= threshold).select(
        "id_a", "id_b", F.round(jac, 6).alias("wjaccard")
    )


def ttl_dedup_flags(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    id_col: str,
    horizon_seconds: int,
    anchor: str = "refresh",
) -> DataFrame:
    """Horizon (TTL) deduplication flags.  Appends ``is_dup``.

    ``anchor="refresh"`` (default) — REFRESHING-horizon semantics: a
    row is a duplicate iff the SAME content key occurred within the
    previous ``horizon_seconds`` measured from the LAST occurrence —
    every hit refreshes the key's TTL, like a TTL cache, so a burst
    extends its own horizon and a chain of closely-spaced retries is
    flagged end-to-end even when the chain spans more than one
    horizon.  Outside the horizon the key is "forgotten" and the next
    occurrence is kept — retry/resubmission dedup for event streams.
    One ``lag`` gap per keyed window per content digest.

    ``anchor="first"`` — FIRST-occurrence-anchored semantics, the
    batch twin of streaming ``dropDuplicatesWithinWatermark``: the
    horizon is measured from the kept anchor row, duplicates do NOT
    extend it, and the first row past ``anchor + horizon`` is
    re-emitted as the new anchor.  A retry chain spanning more than
    one horizon is therefore re-emitted partway through (exactly what
    a user migrating a ``dropDuplicatesWithinWatermark`` pipeline
    expects), whereas the default flags it end-to-end.  The anchor
    recursion is sequential per key, so it runs as a JVM-side
    ``aggregate`` fold over time-sorted occurrence arrays — no Python
    UDF.  The fold is gap-sessionized (a gap > horizon provably resets
    the anchor), so each aggregation buffer holds one SESSION of one
    key, not the key's lifetime history; sessions and keys process in
    parallel.  A key whose duplicates arrive forever at sub-horizon
    spacing is one unbounded session — inherent to the semantics (the
    streaming twin's state store grows the same way), documented here
    as the residual hot-key bound.  Streaming-parity caveat: within one
    microbatch the streaming operator also drops duplicates FARTHER
    apart than the delay (state is only evicted when the watermark
    passes), so exact parity holds when batch boundaries advance the
    watermark past each anchor's expiry — the deterministic,
    data-only semantics implemented here is the documented guarantee
    ("events within the delay are deduplicated"), not the
    batch-boundary accident.

    The content digest is md5 of the null-safe concatenated key
    columns; the same digest expression is usable on any SQL engine.
    """
    if anchor not in ("refresh", "first"):
        raise ValueError(f"anchor must be 'refresh' or 'first': {anchor!r}")
    digest = H.md5_hex(
        F.concat_ws(
            "|", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in key_cols]
        )
    )
    h_us = horizon_seconds * 1_000_000
    if anchor == "first":
        # Fold over each key's sorted (ts, id) array: keep an anchor
        # timestamp; a row within horizon of it is a dup; the first row
        # beyond it becomes the new anchor.  struct sort = (us, id) asc,
        # matching the refresh mode's window ordering.
        #
        # Hot-key guard (r6 ADVICE): folding a key's LIFETIME history in
        # one collect_list concentrates a pathologically hot key's whole
        # occurrence array in a single aggregation buffer.  But any gap
        # > horizon between consecutive occurrences provably starts a
        # new anchor (anchor <= previous ts, so x - anchor > horizon),
        # so the fold is segmented by gap-sessionization first: the
        # window sort spills gracefully (ExternalSorter), and each
        # aggregation buffer holds ONE session, not the key's lifetime.
        # Residual bound: a key whose duplicates arrive forever at
        # sub-horizon spacing is a single unbounded session — the same
        # state growth that would break dropDuplicatesWithinWatermark's
        # state store, i.e. inherent to the semantics, not this plan.
        keyed = df.withColumn("__h", digest)
        wk = Window.partitionBy("__h").orderBy(
            F.col(ts_col).asc(), F.col(id_col).asc()
        )
        prev_us = F.lag(F.unix_micros(F.col(ts_col))).over(wk)
        new_sess = (
            prev_us.isNull()
            | (F.unix_micros(F.col(ts_col)) - prev_us > F.lit(h_us))
        ).cast("int")
        keyed = keyed.withColumn("__s", F.sum(new_sess).over(wk))
        arrs = keyed.groupBy("__h", "__s").agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.unix_micros(F.col(ts_col)).alias("us"),
                        F.col(id_col).alias("id"),
                    )
                )
            ).alias("arr")
        )
        folded = arrs.select(
            "__h",
            "__s",
            F.aggregate(
                "arr",
                F.struct(
                    F.lit(None).cast("long").alias("anchor"),
                    F.array().cast(
                        "array<struct<id:string,is_dup:int>>"
                    ).alias("out"),
                ),
                lambda acc, x: F.struct(
                    F.when(
                        acc["anchor"].isNull()
                        | (x["us"] - acc["anchor"] > F.lit(h_us)),
                        x["us"],
                    )
                    .otherwise(acc["anchor"])
                    .alias("anchor"),
                    F.concat(
                        acc["out"],
                        F.array(
                            F.struct(
                                x["id"].cast("string").alias("id"),
                                F.when(
                                    acc["anchor"].isNotNull()
                                    & (x["us"] - acc["anchor"] <= F.lit(h_us)),
                                    F.lit(1),
                                )
                                .otherwise(F.lit(0))
                                .alias("is_dup"),
                            )
                        ),
                    ).alias("out"),
                ),
                lambda acc: acc["out"],
            ).alias("out"),
        )
        flags = folded.select(
            "__h", F.explode("out").alias("o")
        ).select(
            "__h",
            F.col("o.id").alias("__fid"),
            F.col("o.is_dup").alias("is_dup"),
        )
        return (
            keyed.join(
                flags,
                (keyed["__h"] == flags["__h"])
                & (F.col(id_col).cast("string") == flags["__fid"]),
            )
            .drop("__h", "__fid", "__s")
        )
    w = Window.partitionBy("__h").orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    prev = F.lag(F.unix_micros(F.col(ts_col))).over(w)
    gap_us = F.unix_micros(F.col(ts_col)) - prev
    return (
        df.withColumn("__h", digest)
        .withColumn(
            "is_dup",
            (prev.isNotNull() & (gap_us <= horizon_seconds * 1_000_000)).cast(
                "int"
            ),
        )
        .drop("__h")
    )


def dedup_savings_report(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """One-row dedup savings readout: how many rows and characters the
    two cheap dedup tiers would reclaim — tier 1 exact (md5 of raw
    text), tier 2 whitespace/case-normalized exact among tier-1
    survivors.  The report a pipeline reads BEFORE paying for minhash:
    if cheap tiers already reclaim the bulk, the LSH pass can wait.

    Scale shape: one projection computing both digests and the char
    length, two keyed hash aggs (tier 2 groups only tier-1 keepers),
    ONE summary row.  Exact groups share identical text, so reclaimed
    chars are ``(cnt-1) * len``; normalized groups may differ in
    whitespace, so the keeper's length comes from ``min_by`` (portable:
    DuckDB has it too).

    Output (1 row): ``n_docs, total_chars, exact_dupes,
    exact_chars_saved, norm_dupes, norm_chars_saved, pct_rows_saved,
    pct_chars_saved`` (pcts rounded 6).
    """
    r = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.length(F.col(text_col)).cast("bigint").alias("__len"),
        H.md5_hex(F.col(text_col)).alias("__h1"),
        H.md5_hex(
            F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
        ).alias("__h2"),
    )
    g1 = r.groupBy("__h1").agg(
        F.min("__id").alias("__keep1"),
        F.count(F.lit(1)).alias("__cnt1"),
        F.max("__len").alias("__len1"),  # identical text -> identical len
        F.min_by("__h2", "__id").alias("__h2k"),
    )
    tier1 = g1.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n_keep1"),
        F.sum(F.col("__cnt1") - 1).cast("bigint").alias("exact_dupes"),
        F.sum((F.col("__cnt1") - 1) * F.col("__len1"))
        .cast("bigint")
        .alias("exact_chars_saved"),
    )
    g2 = g1.groupBy("__h2k").agg(
        F.count(F.lit(1)).alias("__cnt2"),
        F.sum("__len1").alias("__sum2"),
        F.min_by("__len1", "__keep1").alias("__keeplen2"),
    )
    tier2 = g2.agg(
        F.sum(F.col("__cnt2") - 1).cast("bigint").alias("norm_dupes"),
        F.sum(F.col("__sum2") - F.col("__keeplen2"))
        .cast("bigint")
        .alias("norm_chars_saved"),
    )
    base = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__len").cast("bigint").alias("total_chars"),
    )
    out = base.crossJoin(F.broadcast(tier1)).crossJoin(F.broadcast(tier2))
    return out.select(
        "n_docs",
        "total_chars",
        "exact_dupes",
        "exact_chars_saved",
        "norm_dupes",
        "norm_chars_saved",
        F.round(
            (F.col("exact_dupes") + F.col("norm_dupes")) / F.col("n_docs"), 6
        ).alias("pct_rows_saved"),
        F.round(
            (F.col("exact_chars_saved") + F.col("norm_chars_saved"))
            / F.col("total_chars"),
            6,
        ).alias("pct_chars_saved"),
    )


def cross_source_duplication(
    df: DataFrame, text_col: str, id_col: str, source_col: str
) -> DataFrame:
    """Cross-source exact-duplicate matrix: for every ordered source
    pair (a < b), how many distinct text digests appear in BOTH — the
    mirror-detection readout that tells a corpus builder which sources
    copy from which (within-source duplication is x01/x205's job).

    Scale shape: one (digest, source) distinct agg, a digest-keyed
    self-join restricted to a < b (each digest joins only its own
    source list — fan-out bounded by per-digest source counts, which
    the |sources| domain caps), and a |sources|² hash agg.

    Output: ``source_a, source_b, n_shared, share_of_a, share_of_b``
    (shares = n_shared / distinct digests in that source, rounded 6).
    """
    ds = (
        df.where(F.col(text_col).isNotNull())
        .select(
            H.md5_hex(F.col(text_col)).alias("__h"),
            F.col(source_col).alias("__s"),
        )
        .distinct()
    )
    totals = ds.groupBy("__s").agg(F.count(F.lit(1)).alias("__n"))
    a = ds.select(F.col("__h"), F.col("__s").alias("source_a"))
    b = ds.select(F.col("__h"), F.col("__s").alias("source_b"))
    pairs = (
        a.join(b, "__h")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    return (
        pairs.join(
            totals.select(
                F.col("__s").alias("source_a"), F.col("__n").alias("__na")
            ),
            "source_a",
        )
        .join(
            totals.select(
                F.col("__s").alias("source_b"), F.col("__n").alias("__nb")
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(F.col("n_shared") / F.col("__na"), 6).alias("share_of_a"),
            F.round(F.col("n_shared") / F.col("__nb"), 6).alias("share_of_b"),
        )
    )


def duplication_by_length(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Duplicate-rate vs document length: exact-duplicate share per
    log2 length bin — the curation bias check ("do short docs duplicate
    more?") that decides whether a dedup pass needs length
    stratification.  A doc is a duplicate when its md5 digest appears
    more than once in the corpus (ALL copies count as duplicated mass).

    Scale shape: one digest agg for per-digest counts, a digest-keyed
    join back (co-partitions with the agg shuffle), one log2-bin hash
    agg — |log2 bins| output rows.

    Output: ``len_bin, n_docs, n_dup_docs, dup_rate, chars_lo``
    (rate rounded 6; chars_lo = 2^len_bin).
    """
    r = df.where(
        F.col(text_col).isNotNull() & (F.length(text_col) > 0)
    ).select(
        H.md5_hex(F.col(text_col)).alias("__h"),
        F.floor(F.log2(F.length(text_col))).cast("bigint").alias("len_bin"),
    )
    counts = r.groupBy("__h").agg(F.count(F.lit(1)).alias("__cnt"))
    j = r.join(counts, "__h")
    return (
        j.groupBy("len_bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("__cnt") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_docs"),
            F.round(
                F.sum(F.when(F.col("__cnt") > 1, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("dup_rate"),
            F.pow(F.lit(2.0), F.first(F.col("len_bin")))
            .cast("bigint")
            .alias("chars_lo"),
        )
    )


def fs_weight_bands(
    pairs: DataFrame,
    agreements: list[tuple[str, float, float]],
    truth_col: str,
) -> DataFrame:
    """Fellegi-Sunter probabilistic record-linkage scoring (Fellegi &
    Sunter 1969): each field comparison contributes ``log(m/u)`` when it
    agrees and ``log((1-m)/(1-u))`` when it disagrees (m = P(agree |
    match), u = P(agree | non-match)); the pair's weight is the sum.
    Reports the weight-band calibration table — per integer band, how
    many candidate pairs land there and what fraction are true matches —
    the readout that picks the upper/lower decision thresholds.

    ``agreements`` is ``[(bool_col_name, m, u), ...]``.  The log-weights
    are computed in PYTHON and baked as shared literals (cross-engine
    float rule, SCALE.md): both engines add the same constants, so the
    band histogram is bit-identical.

    Scale shape: the caller owns blocking (candidate generation); this
    is a projection + one band agg over the candidate frame — linear in
    |pairs|.  Output: ``band, n_pairs, n_match, match_rate``.
    """
    import math

    w = F.lit(0.0)
    for col, m, u in agreements:
        agree_w = math.log(m / u)
        disagree_w = math.log((1.0 - m) / (1.0 - u))
        w = w + F.when(F.col(col), F.lit(agree_w)).otherwise(F.lit(disagree_w))
    banded = pairs.withColumn("__w", w).withColumn(
        "band", F.floor(F.col("__w")).cast("bigint")
    )
    return (
        banded.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.col(truth_col).cast("long")).cast("bigint").alias("n_match"),
        )
        .withColumn(
            "match_rate",
            F.round(F.col("n_match") / F.col("n_pairs").cast("double"), 6),
        )
        .orderBy("band")
    )


def lsh_banding_planner(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    probe_bands: int = 4,
    shingle_n: int = 2,
) -> DataFrame:
    """Banding planner: before re-running dedup at scale, measure the
    corpus's candidate-pair similarity profile once and read off, for
    every (bands b, rows r) factorization of the signature budget, the
    expected candidate recall on THAT profile — the s-curve
    ``P(s) = 1 - (1 - s^r)^b`` averaged over the observed similarity
    mass.  Turns the b/r dial from folklore into a measured choice.

    Method: one banded-LSH candidate pass at the permissive
    ``probe_bands`` setting (the widest-net probe the budget allows);
    each candidate pair's similarity is ESTIMATED from the signatures
    already in hand (fraction of agreeing minhash components — the
    unbiased Jaccard estimator, granularity 1/num_hashes, no shingle
    re-join); the |num_hashes|+1-bin histogram of those estimates is the
    profile.  Expected recall per (b, r) = Σ_bins frac · P(s_bin).

    Scale shape: the candidate pass is the documented banded frame
    (Σ_bands Σ|bucket|²); everything after is a ≤ num_hashes+1-row
    profile crossed with a |factorizations| literal frame.  ``s^r`` and
    ``(1-p)^b`` are expanded as literal-exponent multiplication chains
    (no float ``pow``), identically in the SQL oracle; the per-band
    threshold estimate ``(1/b)^(1/r)`` is a Python-computed literal.
    Output: ``bands, rows_per_band, threshold_est, expected_recall``
    ordered by bands.
    """
    sig_cols = [f"sig{i}" for i in range(num_hashes)]
    # signatures feed THREE consumers (the banded candidate pass and both
    # sides of the agreement join): project to id + sigs and materialize
    # once instead of re-running the scan + shingle + digest agg per
    # consumer (three corpus passes at 100 TB otherwise — the x144 pin)
    sigged = (
        with_minhash_signature(
            df.select(id_col, text_col), text_col, num_hashes, shingle_n
        )
        .select(id_col, *sig_cols)
        .localCheckpoint()
    )
    cand = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes=num_hashes, bands=probe_bands,
        shingle_n=shingle_n, sigged=sigged,  # ONE signature pass (r9)
    )
    a = sigged.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"a_{c}") for c in sig_cols],
    )
    b = sigged.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"b_{c}") for c in sig_cols],
    )
    agree = sum(
        F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0)
        for c in sig_cols
    )
    est = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(agree.alias("__k"))
        .groupBy("__k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__cnt"))
    )
    total = est.agg(F.sum("__cnt").alias("__tot"))
    profile = est.crossJoin(F.broadcast(total)).select(
        (F.col("__k").cast("double") / float(num_hashes)).alias("s"),
        (F.col("__cnt").cast("double") / F.col("__tot").cast("double")).alias(
            "frac"
        ),
    )

    def chain_pow(col, k: int):
        out = F.lit(1.0)
        for _ in range(k):
            out = out * col
        return out

    # ONE aggregate over the profile computes every factorization's
    # expected recall (per-bin contributions rounded to 12 and summed as
    # exact decimals — order-free in both engines); rows assemble by
    # explode, so the candidate pass upstream runs exactly once.
    factorizations = sorted(
        b for b in range(1, num_hashes + 1) if num_hashes % b == 0
    )
    aggs = []
    for bands in factorizations:
        r = num_hashes // bands
        p_band = chain_pow(F.col("s"), r)
        p_any = F.lit(1.0) - chain_pow(F.lit(1.0) - p_band, bands)
        aggs.append(
            F.sum(
                F.round(F.col("frac") * p_any, 12).cast("decimal(18,12)")
            ).alias(f"rec{bands}")
        )
    agg = profile.agg(*aggs)
    rows = [
        F.struct(
            F.lit(bands).alias("bands"),
            F.lit(num_hashes // bands).alias("rows_per_band"),
            F.lit(
                round((1.0 / bands) ** (1.0 / (num_hashes // bands)), 6)
            ).alias("threshold_est"),
            F.round(F.col(f"rec{bands}").cast("double"), 6).alias(
                "expected_recall"
            ),
        )
        for bands in factorizations
    ]
    return (
        agg.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.*")
        .orderBy("bands")
    )


def semihard_negative_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 2,
    lo: int = 2,
    hi: int = 5,
) -> DataFrame:
    """Semi-hard negative mining for contrastive training, straight off
    the dedup index: LSH candidate pairs whose minhash signatures agree
    on ``lo..hi`` of ``num_hashes`` components — similar enough to be
    informative negatives (they collide in at least one band), but
    below the near-duplicate range a dedup pass would remove.  The
    free by-product of infrastructure the pipeline already runs: no
    second index, no extra shuffle beyond the candidate pass.

    Output is the per-agreement-level histogram ``k_agree, n_pairs``
    (ordered by k) — the shape a training recipe reads to set its
    negative-sampling temperature; the pair frame itself is the
    intermediate and can be returned by composing
    :func:`minhash_lsh_candidates` with the same join.

    Scale shape: the banded candidate pass (Σ_bands Σ|bucket|²) plus
    two broadcast-free id joins back to the |n|-row signature frame —
    candidates are the bounded side after banding.
    """
    sig_cols = [f"sig{i}" for i in range(num_hashes)]
    # same triple-consumer pin as lsh_banding_planner: one signature
    # materialization feeds the candidate pass and both join sides
    sigged = (
        with_minhash_signature(
            df.select(id_col, text_col), text_col, num_hashes, shingle_n
        )
        .select(id_col, *sig_cols)
        .localCheckpoint()
    )
    cand = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes=num_hashes, bands=bands,
        shingle_n=shingle_n, sigged=sigged,  # ONE signature pass (r9)
    )
    a = sigged.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"a_{c}") for c in sig_cols],
    )
    b = sigged.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"b_{c}") for c in sig_cols],
    )
    agree = sum(
        F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0)
        for c in sig_cols
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(agree.alias("k_agree"))
        .where((F.col("k_agree") >= lo) & (F.col("k_agree") <= hi))
        .groupBy("k_agree")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy("k_agree")
    )


def dedup_survivorship(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 2,
) -> DataFrame:
    """Per-source survivorship report of an end-to-end minhash dedup:
    for every source, how many documents and tokens survive
    :func:`minhash_dedup` (same defaults) — the accounting a curation
    pipeline publishes alongside the deduped corpus, and the first
    place a mis-tuned banding shows up (one source losing 40% of its
    tokens while the rest lose 2% is a skewed-domain signal, not
    usually real duplication).

    Scale shape: the dedup itself (banded candidates → components →
    anti-join) plus two keyed aggs to the |sources| frame and a
    broadcast join between them.  All-integer token arithmetic;
    removed_frac is the single ROUND(6).
    Output: ``<group_col>, n_docs, n_kept, n_removed, tokens_total,
    tokens_kept, removed_frac`` ordered by group.
    """
    from flashml_spark.operators.textops import token_count

    tok = token_count(F.col(text_col)).cast("bigint")
    total = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tok).alias("tokens_total"),
    )
    kept = (
        minhash_dedup(df, text_col, id_col, num_hashes, bands, shingle_n)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(tok).alias("tokens_kept"),
        )
    )
    return (
        total.join(F.broadcast(kept), group_col, "left")
        .select(
            group_col,
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("n_docs") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_removed"
            ),
            "tokens_total",
            F.coalesce("tokens_kept", F.lit(0)).alias("tokens_kept"),
            F.round(
                (F.col("n_docs") - F.coalesce("n_kept", F.lit(0))).cast(
                    "double"
                )
                / F.col("n_docs").cast("double"),
                6,
            ).alias("removed_frac"),
        )
        .orderBy(group_col)
    )


def neardup_cluster_size_histogram(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 2,
) -> DataFrame:
    """Duplicate-cluster size distribution — the dedup observability
    readout: after banded-LSH candidates → connected components, how
    many clusters exist at each size ≥ 2?  A heavy tail (one giant
    component) is the classic sign of a template/boilerplate artifact
    chaining unrelated docs together, and the number to check BEFORE
    trusting keep-one-per-cluster removal counts.

    Scale shape: the candidate pass + component propagation the dedup
    already runs, then two keyed aggs — components → sizes (|clusters|
    rows) → histogram (|distinct sizes| rows).
    Output: ``cluster_size, n_clusters`` ordered by size.
    """
    pairs = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_n
    )
    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        sizes.where(F.col("cluster_size") >= 2)
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .orderBy("cluster_size")
    )
