"""Unit + property tests for the round-5 second-wave operators:
triangle counting / clustering coefficient, cross-group quantile
normalization, and within-doc self-repetition.  Oracle parity runs via
test_oracle_queries.py's registry sweep; these pin hand-checkable
semantics and brute-force equivalence the SQL compare can't isolate.
"""

from __future__ import annotations

import itertools

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from flashml_spark.operators import events, graph, relational, textops

# --- triangle_stats ---------------------------------------------------------


def _tri(df):
    return {r["node"]: r for r in df.collect()}


def test_triangle_k4(spark):
    # complete graph on 4 nodes: every node sits in C(3,2)=3 triangles,
    # degree 3, clustering 1.0
    edges = spark.createDataFrame(
        [(a, b) for a, b in itertools.combinations(range(4), 2)],
        "src long, dst long",
    )
    out = _tri(graph.triangle_stats(edges))
    assert len(out) == 4
    for n in range(4):
        assert out[n]["degree"] == 3
        assert out[n]["triangles"] == 3
        assert out[n]["clustering"] == 1.0


def test_triangle_path_graph_has_none(spark):
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long"
    )
    out = _tri(graph.triangle_stats(edges))
    assert all(r["triangles"] == 0 for r in out.values())
    assert out[0]["clustering"] == 0.0  # degree 1 -> defined as 0
    assert out[1]["degree"] == 2


def test_triangle_normalizes_dupes_loops_reversals(spark):
    # one triangle, delivered messily: duplicates, both directions, a loop
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 0), (0, 1), (2, 2)],
        "src long, dst long",
    )
    out = _tri(graph.triangle_stats(edges))
    assert [out[n]["triangles"] for n in range(3)] == [1, 1, 1]
    assert [out[n]["degree"] for n in range(3)] == [2, 2, 2]


def _brute_triangles(edge_set):
    nodes = sorted({n for e in edge_set for n in e})
    per = {n: 0 for n in nodes}
    for u, v, w in itertools.combinations(nodes, 3):
        if (
            frozenset((u, v)) in edge_set
            and frozenset((u, w)) in edge_set
            and frozenset((v, w)) in edge_set
        ):
            for n in (u, v, w):
                per[n] += 1
    return per


@settings(max_examples=12, deadline=None, derandomize=True)
@given(
    st.sets(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=25,
    )
)
def test_triangle_matches_brute_force(spark, edge_tuples):
    edge_set = {frozenset(e) for e in edge_tuples}
    expect = _brute_triangles(edge_set)
    edges = spark.createDataFrame(
        [tuple(sorted(e)) for e in edge_set], "src long, dst long"
    )
    out = _tri(graph.triangle_stats(edges))
    assert {n: r["triangles"] for n, r in out.items()} == expect


# --- quantile_normalize -----------------------------------------------------


def test_qnorm_equal_ranks_map_to_same_global_value(spark):
    # two sources with wildly different scales; the top row of each maps
    # to the global max, the bottom row to the global min's cell top
    rows = [(i, "a", float(i)) for i in range(1, 6)] + [
        (10 + i, "b", 1000.0 * i) for i in range(1, 6)
    ]
    df = spark.createDataFrame(rows, "id long, src string, v double")
    out = {r["id"]: r for r in relational.quantile_normalize(df, "v", "src", "id", buckets=4).collect()}
    gmax = 5000.0
    assert out[5]["qnorm"] == gmax and out[15]["qnorm"] == gmax
    # same within-source rank -> same qnorm, whatever the raw scale
    for i in range(1, 6):
        assert out[i]["qnorm"] == out[10 + i]["qnorm"]


def test_qnorm_is_monotone_within_group(spark):
    rows = [(i, "s", float(i * i)) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, src string, v double")
    out = relational.quantile_normalize(df, "v", "src", "id", buckets=10).collect()
    got = [r["qnorm"] for r in sorted(out, key=lambda r: r["v"])]
    assert got == sorted(got)
    # single group: normalizing against yourself at full resolution keeps
    # the max fixed
    assert got[-1] == 49.0 * 49.0


def test_qnorm_single_row_group_gets_cell_zero(spark):
    df = spark.createDataFrame(
        [(1, "solo", 7.0), (2, "big", 1.0), (3, "big", 2.0), (4, "big", 3.0)],
        "id long, src string, v double",
    )
    out = {r["id"]: r for r in relational.quantile_normalize(df, "v", "src", "id", buckets=4).collect()}
    # percent_rank of a single-row group is 0 -> global cell 0's top value
    assert out[1]["qnorm"] == out[2]["qnorm"]


def test_qnorm_skips_null_values(spark):
    df = spark.createDataFrame(
        [(1, "s", 1.0), (2, "s", None), (3, "s", 3.0)],
        "id long, src string, v double",
    )
    out = relational.quantile_normalize(df, "v", "src", "id").collect()
    assert sorted(r["id"] for r in out) == [1, 3]


# --- self_repetition_stats --------------------------------------------------


def _rep(df):
    return {r["doc_id"]: r for r in df.collect()}


def test_self_repetition_hand_case(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c a b c"),  # 'a b'/'b c' repeat within doc (n=2)
            (2, "all words unique here"),
            (3, "a b c a b c"),  # same text; claims stay per-doc
        ],
        "doc_id long, text string",
    )
    out = _rep(textops.self_repetition_stats(docs, "text", "doc_id", n=2))
    # every position of doc 1 is inside a duplicated 2-gram span
    assert out[1]["dup_tokens"] == 6 and out[1]["dup_char_frac"] == 1.0
    assert out[2]["dup_tokens"] == 0 and out[2]["dup_char_frac"] == 0.0
    assert out[3]["dup_tokens"] == 6


def test_self_repetition_is_within_doc_only(spark):
    # identical docs share every 2-gram ACROSS docs, but none repeats
    # WITHIN either doc -> zero self-repetition (contrast dup_span_stats)
    docs = spark.createDataFrame(
        [(1, "p q r s"), (2, "p q r s")], "doc_id long, text string"
    )
    out = _rep(textops.self_repetition_stats(docs, "text", "doc_id", n=2))
    assert out[1]["dup_tokens"] == 0 and out[2]["dup_tokens"] == 0
    corpus = _rep(textops.dup_span_stats(docs, "text", "doc_id", n=2))
    assert corpus[1]["dup_tokens"] == 4  # the corpus-wide twin DOES flag


def test_self_repetition_char_weighting(spark):
    # 'aa bb' repeats (4 tokens, 8 chars of 11 total incl 'c'? tokens:
    # aa bb aa bb c -> dup tokens 4 (chars 8), total chars 9
    docs = spark.createDataFrame(
        [(1, "aa bb aa bb c")], "doc_id long, text string"
    )
    out = _rep(textops.self_repetition_stats(docs, "text", "doc_id", n=2))
    assert out[1]["n_tokens"] == 5
    assert out[1]["dup_tokens"] == 4
    assert abs(out[1]["dup_char_frac"] - 8.0 / 9.0) < 1e-6


# --- degree_assortativity ---------------------------------------------------


def test_assortativity_star_is_minus_one(spark):
    # star K(1,3): hub degree 3 pairs only with leaf degree 1 -> r = -1
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "src long, dst long"
    )
    row = graph.degree_assortativity(edges).collect()[0]
    assert row["n_nodes"] == 4 and row["n_edges"] == 3
    assert row["assortativity"] == -1.0


def test_assortativity_regular_graph_is_null(spark):
    # cycle C4: every degree equals 2 -> zero variance -> corr undefined
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
    )
    row = graph.degree_assortativity(edges).collect()[0]
    assert row["n_nodes"] == 4 and row["n_edges"] == 4
    assert row["assortativity"] is None


# --- bpe_encode_fertility ---------------------------------------------------


def test_bpe_fertility_hand_case(spark):
    # corpus: 'ab' x2 + 'b' -> first merge is 'a b' -> 'ab'; encoding
    # then spends 1 symbol on 'ab' and 1 on 'b'
    docs = spark.createDataFrame(
        [("s1", "ab ab"), ("s2", "ab b")], "src string, text string"
    )
    merges_df = textops.bpe_learn(docs.select("text"), "text", n_merges=1)
    merges = [r["pair"] for r in merges_df.orderBy("merge_round").collect()]
    assert merges == ["a b"]
    out = {
        r["src"]: r
        for r in textops.bpe_encode_fertility(docs, "text", "src", merges).collect()
    }
    assert out["s1"]["n_words"] == 2 and out["s1"]["n_bpe_tokens"] == 2
    assert out["s1"]["fertility"] == 1.0
    assert out["s2"]["n_words"] == 2 and out["s2"]["n_bpe_tokens"] == 2


def test_bpe_fertility_no_merges_counts_chars(spark):
    docs = spark.createDataFrame(
        [("s", "abc de")], "src string, text string"
    )
    out = textops.bpe_encode_fertility(docs, "text", "src", []).collect()[0]
    assert out["n_words"] == 2 and out["n_bpe_tokens"] == 5
    assert abs(out["fertility"] - 2.5) < 1e-9


def test_bpe_fertility_applies_merges_in_order(spark):
    # merges ['a b', 'ab c']: 'abc' -> a b c -> ab c -> abc (1 symbol);
    # order-reversed rules would leave 'ab c' unmerged first pass
    docs = spark.createDataFrame(
        [("s", "abc abc")], "src string, text string"
    )
    out = textops.bpe_encode_fertility(
        docs, "text", "src", ["a b", "ab c"]
    ).collect()[0]
    assert out["n_bpe_tokens"] == 2 and out["fertility"] == 1.0
    out2 = textops.bpe_encode_fertility(
        docs, "text", "src", ["ab c", "a b"]
    ).collect()[0]
    # 'ab c' never matches raw ' a  b  c '; only 'a b' applies -> 2 symbols
    assert out2["n_bpe_tokens"] == 4 and out2["fertility"] == 2.0


# --- calibration_curve ------------------------------------------------------


def test_calibration_curve_hand_case(spark):
    from flashml_spark.metrics.binary import calibration_curve

    rows = [
        (0.05, 0.0), (0.05, 0.0),          # bucket 0: rate 0, mean .05
        (0.55, 1.0), (0.55, 0.0),          # bucket 5: rate .5, mean .55
        (1.0, 1.0),                        # folds into bucket 9
    ]
    df = spark.createDataFrame(rows, "score double, label double")
    out = {r["bucket"]: r for r in calibration_curve(df, "score", "label").collect()}
    assert set(out) == {0, 5, 9}
    assert out[0]["n"] == 2 and out[0]["pos_rate"] == 0.0
    assert out[5]["n"] == 2 and out[5]["pos_rate"] == 0.5
    assert abs(out[5]["abs_gap"] - 0.05) < 1e-9
    assert out[9]["n"] == 1 and out[9]["pos_rate"] == 1.0 and out[9]["abs_gap"] == 0.0


def test_calibration_curve_calibrated_scores_have_small_gaps(spark):
    # label drawn with probability == score (deterministic hash draw):
    # every populated decile's gap must be sampling noise, not bias
    from flashml_spark.functions import hashing as H
    from flashml_spark.metrics.binary import calibration_curve
    from pyspark.sql import functions as F

    ids = spark.range(0, 4000)
    def u(col):
        return (F.conv(F.substring(H.md5_hex(col.cast("string").cast("binary")), 1, 8), 16, 10)
                .cast("bigint").cast("double") + 1.0) / 4294967296.0
    df = ids.select(u(F.col("id")).alias("score"),
                    u(F.concat(F.lit("l"), F.col("id").cast("string"))).alias("u2"))
    df = df.select("score", F.when(F.col("u2") < F.col("score"), 1.0).otherwise(0.0).alias("label"))
    out = calibration_curve(df, "score", "label").collect()
    assert sum(r["n"] for r in out) == 4000
    for r in out:
        assert r["abs_gap"] < 0.08, (r["bucket"], r["abs_gap"])


# --- weighted_sample_per_group ----------------------------------------------


def test_group_weighted_sample_k_per_group(spark):
    from flashml_spark.operators import sampling

    rows = [(f"g{i % 3}", i, float(1 + i % 7)) for i in range(60)]
    df = spark.createDataFrame(rows, "grp string, id long, w double")
    out = sampling.weighted_sample_per_group(df, "grp", "w", "id", k=4).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r["grp"], []).append(r["rk"])
    assert set(by_grp) == {"g0", "g1", "g2"}
    for rks in by_grp.values():
        assert sorted(rks) == [1, 2, 3, 4]


def test_group_weighted_sample_small_group_and_nonpos_weight(spark):
    from flashml_spark.operators import sampling

    df = spark.createDataFrame(
        [("a", 1, 2.0), ("a", 2, 0.0), ("b", 3, 1.0)],
        "grp string, id long, w double",
    )
    out = sampling.weighted_sample_per_group(df, "grp", "w", "id", k=5).collect()
    ids = sorted(r["id"] for r in out)
    assert ids == [1, 3]  # zero-weight row excluded; small groups keep all


def test_group_weighted_sample_heavier_rows_win_more(spark):
    # one heavy row per group vs 9 light ones: across many groups the
    # heavy row should take rank 1 far more often than 1/10 of the time
    from flashml_spark.operators import sampling

    rows = []
    for g in range(40):
        rows.append((f"g{g}", g * 100, 50.0))          # heavy
        rows += [(f"g{g}", g * 100 + j, 1.0) for j in range(1, 10)]
    df = spark.createDataFrame(rows, "grp string, id long, w double")
    out = sampling.weighted_sample_per_group(df, "grp", "w", "id", k=1).collect()
    heavy_wins = sum(1 for r in out if r["id"] % 100 == 0)
    assert heavy_wins >= 30  # E[wins] = 40 * 50/59 ≈ 34


# --- frequent_pairs ---------------------------------------------------------


def test_frequent_pairs_hand_case(spark):
    # baskets: {1,2,3}, {1,2}, {1,2}, {3} -> pair (1,2) support 3;
    # (1,3),(2,3) support 1 (pruned at min_support=2)
    rows = [(10, 1), (10, 2), (10, 3), (11, 1), (11, 2), (12, 1), (12, 2), (13, 3)]
    df = spark.createDataFrame(rows, "bk long, it long")
    out = relational.frequent_pairs(df, "bk", "it", min_support=2, top_k=5).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["item_a"], r["item_b"], r["support"]) == (1, 2, 3)
    # conf = max(3/3, 3/3) = 1.0; lift = 3*4/(3*3) = 1.333333
    assert r["confidence"] == 1.0
    assert abs(r["lift"] - 4.0 / 3.0) < 1e-6


def test_frequent_pairs_dedups_within_basket(spark):
    # the same item twice in one basket must count the basket once
    rows = [(1, 7), (1, 7), (1, 8), (2, 7), (2, 8)]
    df = spark.createDataFrame(rows, "bk long, it long")
    out = relational.frequent_pairs(df, "bk", "it", min_support=2).collect()
    assert len(out) == 1 and out[0]["support"] == 2


# --- seasonal_indices -------------------------------------------------------


def test_seasonal_indices_hand_case(spark):
    import datetime

    # key 'a': Sundays avg 20, Mondays avg 10 -> overall 15,
    # indices 1.333333 / 0.666667
    rows = [
        ("a", datetime.datetime(2024, 1, 7), 20.0),   # Sunday
        ("a", datetime.datetime(2024, 1, 14), 20.0),  # Sunday
        ("a", datetime.datetime(2024, 1, 8), 10.0),   # Monday
        ("a", datetime.datetime(2024, 1, 15), 10.0),  # Monday
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = {r["dow"]: r for r in events.seasonal_indices(df, "ts", "k", "v").collect()}
    assert set(out) == {0, 1}  # 0=Sunday
    assert out[0]["avg_value"] == 20.0 and abs(out[0]["seasonal_index"] - 4/3) < 1e-6
    assert out[1]["avg_value"] == 10.0 and abs(out[1]["seasonal_index"] - 2/3) < 1e-6
    assert out[0]["n"] == 2


# --- concentration_hhi ------------------------------------------------------


def test_hhi_monopoly_vs_even(spark):
    rows = [
        ("mono", "a", 100.0),
        ("even", "a", 50.0), ("even", "b", 50.0),
        ("mixed", "a", 75.0), ("mixed", "b", 25.0),
    ]
    df = spark.createDataFrame(rows, "grp string, ent string, v double")
    out = {r["grp"]: r for r in relational.concentration_hhi(df, "grp", "ent", "v").collect()}
    assert out["mono"]["hhi"] == 1.0 and out["mono"]["n_entities"] == 1
    assert out["even"]["hhi"] == 0.5
    assert abs(out["mixed"]["hhi"] - (0.75**2 + 0.25**2)) < 1e-6
    assert out["mixed"]["total_value"] == 100.0


def test_hhi_sums_entity_rows_first(spark):
    # the same entity twice must aggregate before sharing
    rows = [("g", "a", 30.0), ("g", "a", 70.0), ("g", "b", 100.0)]
    df = spark.createDataFrame(rows, "grp string, ent string, v double")
    out = relational.concentration_hhi(df, "grp", "ent", "v").collect()[0]
    assert out["n_entities"] == 2 and out["hhi"] == 0.5


# --- retention_decay --------------------------------------------------------


def test_retention_decay_exact_halving(spark):
    import datetime

    # cohort day 0: 8 users; exactly half remain each day for 3 days ->
    # ln-linear with slope -ln2, half-life exactly 1 day
    rows = []
    users = list(range(8))
    for off, active in [(0, 8), (1, 4), (2, 2), (3, 1)]:
        for u in users[:active]:
            rows.append((u, datetime.datetime(2024, 3, 1 + off, 12, 0)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = events.retention_decay(df, "user_id", "ts").collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_points"] == 3
    import math
    assert abs(r["slope"] + math.log(2.0)) < 1e-6
    assert abs(r["half_life_days"] - 1.0) < 1e-6


def test_retention_decay_skips_thin_cohorts(spark):
    import datetime

    # only 2 usable offsets -> below min_offsets=3 -> no row
    rows = [(1, datetime.datetime(2024, 3, 1)), (1, datetime.datetime(2024, 3, 2)),
            (1, datetime.datetime(2024, 3, 3))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    assert events.retention_decay(df, "user_id", "ts").count() == 0


# --- random_projection ------------------------------------------------------


def test_jl_projection_hand_case(spark):
    from flashml_spark.operators import similarity

    signs = similarity.jl_signs(3, 2)
    df = spark.createDataFrame([(1, [1.0, 2.0, 4.0])], "id long, v array<double>")
    out = {r["out_dim"]: r["value"] for r in
           similarity.random_projection(df, "v", "id", k=2, dim=3).collect()}
    import math
    for j in (0, 1):
        want = sum(s * x for s, x in zip(signs[j], [1.0, 2.0, 4.0])) / math.sqrt(2)
        assert abs(out[j] - want) < 1e-6


def test_jl_projection_preserves_distances_in_expectation(spark):
    # 20 deterministic 64-d vectors, k=16: pairwise squared distances in
    # the projected space should track the originals within JL tolerance
    import math

    from flashml_spark.operators import similarity

    vecs = [
        (i, [math.sin(0.7 * i + 0.13 * d) for d in range(64)]) for i in range(20)
    ]
    df = spark.createDataFrame(vecs, "id long, v array<double>")
    proj = similarity.random_projection(df, "v", "id", k=16, dim=64).collect()
    pv = {}
    for r in proj:
        pv.setdefault(r["id"], {})[r["out_dim"]] = r["value"]
    orig = dict(vecs)
    ratios = []
    for a in range(0, 20, 3):
        for b in range(a + 1, 20, 3):
            d0 = sum((x - y) ** 2 for x, y in zip(orig[a], orig[b]))
            d1 = sum((pv[a][j] - pv[b][j]) ** 2 for j in range(16))
            if d0 > 1e-9:
                ratios.append(d1 / d0)
    assert ratios and all(0.3 < r < 2.5 for r in ratios)
    assert 0.7 < sum(ratios) / len(ratios) < 1.4


# --- review-pass regressions (ANSI zero-division, dow sign, null/range) ----


def test_seasonal_indices_zero_mean_key_yields_null_not_crash(spark):
    import datetime

    rows = [("z", datetime.datetime(2024, 1, 7), 0.0),
            ("z", datetime.datetime(2024, 1, 8), 0.0)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = events.seasonal_indices(df, "ts", "k", "v").collect()
    assert len(out) == 2 and all(r["seasonal_index"] is None for r in out)


def test_seasonal_indices_pre_epoch_saturday_is_dow_6(spark):
    import datetime

    df = spark.createDataFrame(
        [("k", datetime.datetime(1969, 12, 20, 12), 1.0)],
        "k string, ts timestamp, v double",
    )
    assert events.seasonal_indices(df, "ts", "k", "v").collect()[0]["dow"] == 6


def test_hhi_zero_total_group_yields_null_not_crash(spark):
    df = spark.createDataFrame(
        [("g", "a", 5.0), ("g", "b", -5.0)], "grp string, ent string, v double"
    )
    out = relational.concentration_hhi(df, "grp", "ent", "v").collect()[0]
    assert out["hhi"] is None and out["n_entities"] == 2


def test_calibration_curve_clamps_and_drops_nulls(spark):
    from flashml_spark.metrics.binary import calibration_curve

    df = spark.createDataFrame(
        [(-0.05, 0.0), (1.7, 1.0), (None, 1.0), (0.5, 1.0)],
        "score double, label double",
    )
    out = {r["bucket"]: r for r in calibration_curve(df, "score", "label").collect()}
    assert set(out) == {0, 5, 9}  # clamped edges; null row gone
    assert out[0]["n"] == 1 and out[9]["n"] == 1


def test_assortativity_zero_edge_graph_is_null(spark):
    edges = spark.createDataFrame([(1, 1), (2, 2)], "src long, dst long")
    row = graph.degree_assortativity(edges).collect()[0]
    assert row["n_edges"] == 0 and row["assortativity"] is None


def test_streaming_psi_excludes_nulls(spark):
    from flashml_spark.streaming.drift import batch_windowed_psi
    import datetime

    rows = [(datetime.datetime(2024, 1, 1, 1), 5.0),
            (datetime.datetime(2024, 1, 1, 2), None),
            (datetime.datetime(2024, 1, 1, 3), None)]
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    out = batch_windowed_psi(df, "ts", "v", edges=[3.0, 7.0], fracs=[0.2, 0.6, 0.2]).collect()
    assert len(out) == 1 and out[0]["n"] == 1  # nulls excluded from n and buckets


def test_wav_zero_channels_raises_value_error(spark):
    import struct

    from flashml_spark.functions import codecs

    payload = bytearray(codecs.encode_wav([1, 2], 8000))
    # fmt chunk content starts at 12+8; blockalign (the divisor) at +12
    struct.pack_into("<H", payload, 12 + 8 + 12, 0)
    with pytest.raises(ValueError, match="0 channels"):
        codecs.decode_wav(bytes(payload))


# --- validate_expectations --------------------------------------------------


def test_expectations_counts_each_rule_type(spark):
    df = spark.createDataFrame(
        [
            (1, 1, 10.0, "A", 5.0),
            (2, 1, None, "N", 0.5),     # null v -> range violation (not not_null rule)
            (2, 1, 70.0, "X", 2.0),     # dup key; bad flag; v out of range
            (3, 2, 20.0, "R", -1.0),    # w negative -> predicate violation
        ],
        "k1 long, k2 long, v double, flag string, w double",
    )
    rules = [
        {"type": "not_null", "column": "v"},
        {"type": "range", "column": "v", "lo": 0.0, "hi": 50.0},
        {"type": "allowed", "column": "flag", "values": ["A", "N", "R"]},
        {"type": "unique", "columns": ["k1", "k2"]},
        {"type": "predicate", "id": "w_nonneg", "sql": "w >= 0"},
    ]
    out = {r["rule_id"]: r for r in relational.validate_expectations(df, rules).collect()}
    assert out["not_null:v"]["violations"] == 1
    assert out["range:v"]["violations"] == 2     # null + 70.0
    assert out["allowed:flag"]["violations"] == 1
    assert out["unique:k1,k2"]["violations"] == 1
    assert out["w_nonneg"]["violations"] == 1
    assert all(r["n_rows"] == 4 for r in out.values())
    assert not any(r["passed"] for r in out.values())


def test_expectations_single_scan(spark):
    # the whole report must compile to ONE aggregate over the input
    df = spark.createDataFrame([(1, 2.0)], "k long, v double")
    rules = [
        {"type": "not_null", "column": "v"},
        {"type": "unique", "columns": ["k"]},
    ]
    plan = relational.validate_expectations(df, rules)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("aggregate") <= 2  # partial+final of one agg


def test_expectations_unknown_type_raises(spark):
    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="unknown expectation"):
        relational.validate_expectations(df, [{"type": "nope", "column": "k"}])


# --- k_anonymity_audit ------------------------------------------------------


def test_k_anonymity_hand_case(spark):
    rows = (
        [("en", 1, "s1")] * 6          # big group, 1 sensitive value
        + [("fr", 1, "s1"), ("fr", 1, "s2")]  # size-2 group -> risky at k=5
        + [("de", 2, "s3")]            # singleton -> risky
    )
    df = spark.createDataFrame(rows, "lang string, bkt long, src string")
    out = relational.k_anonymity_audit(df, ["lang", "bkt"], "src", k=5).collect()[0]
    assert out["n_rows"] == 9 and out["n_groups"] == 3
    assert out["risky_groups"] == 2 and out["risky_rows"] == 3
    assert out["min_group_size"] == 1
    assert out["min_l"] == 1  # the en group is size-6 but l-diversity 1


# --- _bounded_pin gate (r12: corpus-sized tokenize pins) ---------------------


def test_bounded_pin_paths_identical(spark, monkeypatch):
    # The tokenize pin is gated on the Catalyst-estimated frame size
    # (textops._PIN_MAX_BYTES_DEFAULT): past the budget the operators run
    # UNPINNED (lineage-safe recompute per consumer).  Both paths must
    # produce identical rows; a 1-byte budget forces the unpinned path.
    # The input is a LocalRelation so it carries a real size estimate.
    from flashml_spark.sources.readers import local_rows

    docs = local_rows(
        spark,
        [
            (1, "a b c a b c d e f a b c"),
            (2, "all words unique here"),
            (3, None),
            (4, "x y x y x y"),
        ],
        "doc_id long, text string",
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    pinned_flags = []
    gate = textops._bounded_pin

    def spy(frame):
        out = gate(frame)
        pinned_flags.append(out is not frame)
        return out

    monkeypatch.setattr(textops, "_bounded_pin", spy)
    for op in (
        lambda d: textops.self_repetition_stats(d, "text", "doc_id", n=2),
        lambda d: textops.dup_span_stats(d, "text", "doc_id", n=2),
        lambda d: textops.remove_dup_spans(d, "text", "doc_id", n=2),
        lambda d: textops.bigram_logprob_score(d, "text", "doc_id"),
    ):
        pinned_flags.clear()
        pinned = rows(op(docs))
        assert pinned_flags and all(pinned_flags)
        pinned_flags.clear()
        with monkeypatch.context() as m:
            m.setattr(textops, "_PIN_MAX_BYTES_DEFAULT", 1)
            over_budget = rows(op(docs))
        assert pinned_flags and not any(pinned_flags)
        assert pinned == over_budget


def test_bounded_pin_gate_behavior(spark, monkeypatch):
    from flashml_spark.operators.textops import _bounded_pin

    def is_pinned(df):
        return _bounded_pin(df) is not df

    frame = spark.range(10).selectExpr("id", "id * 2 AS v")
    # default budget: pinned
    assert is_pinned(frame)
    # 1-byte budget: estimate exceeds it -> NOT pinned
    monkeypatch.setattr(textops, "_PIN_MAX_BYTES_DEFAULT", 1)
    assert not is_pinned(frame)
    # an RDD-backed input has no estimate (Catalyst reports
    # spark.sql.defaultSizeInBytes): pinned whatever the budget
    assert is_pinned(spark.createDataFrame([(1, 2)], "id long, v long"))
