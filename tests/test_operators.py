"""Unit tests for the extension operators (dedup, similarity, skew,
multimodal, text) against small in-memory data and self-consistency
oracles."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hadoop_formats_spark.functions import text as T
from hadoop_formats_spark.operators import dedup as D
from hadoop_formats_spark.operators import multimodal as M
from hadoop_formats_spark.operators import similarity as S
from hadoop_formats_spark.operators.skew import salted_count_by_key, salted_join


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different text with no overlap at all here"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (5, "hi"),  # shorter than one shingle
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_word_shingles_short_doc_empty(spark, docs):
    out = docs.select("doc_id", D.word_shingles("text", 3).alias("sh")).collect()
    by_id = {r["doc_id"]: r["sh"] for r in out}
    assert by_id[5] == []
    assert "the quick brown" in by_id[1]


def test_exact_dedup_keeps_min_id(spark, docs):
    out = D.exact_dedup(docs.select("doc_id", "text"), ["text"]).collect()
    dups = [r for r in out if r["n_copies"] == 2]
    assert len(dups) == 1 and dups[0]["doc_id"] == 1


def test_minhash_candidates_contain_exact_dups(spark, docs):
    cand = D.minhash_band_pairs(docs).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in cand}
    assert (1, 4) in pairs


def test_band_pr_sampling_knob_is_deterministic_subset(spark, docs):
    """The measure-on-a-sample contract (VERDICT r4 #7): sampled truth
    counts are bounded by the exact run's, and the md5-hash sample is
    deterministic (two runs agree exactly)."""
    exact = D.minhash_band_precision_recall(docs).collect()[0]
    s1 = D.minhash_band_precision_recall(docs, sample_fraction=0.5).collect()[0]
    s2 = D.minhash_band_precision_recall(docs, sample_fraction=0.5).collect()[0]
    assert s1 == s2  # deterministic, no seed state
    for c in ("n_candidates", "n_true", "n_tp"):
        assert s1[c] <= exact[c]
    full = D.minhash_band_precision_recall(docs, sample_fraction=1.0).collect()[0]
    assert full == exact  # fraction 1.0 degenerates to the exact run


def test_jaccard_verify_equals_exhaustive_on_candidates(spark, docs):
    cand = D.minhash_band_pairs(docs)
    verified = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.shingle_jaccard_pairs(docs, threshold=0.5, candidates=cand).collect()
    }
    exhaustive = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.shingle_jaccard_pairs(docs, threshold=0.5).collect()
    }
    for pair, j in verified.items():
        assert exhaustive[pair] == j
    assert verified[(1, 4)] == 1.0


def test_connected_components_chain_and_isolation(spark):
    # chain 1-2-3 collapses to one group; 7-8 is separate
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "doc_a bigint, doc_b bigint"
    )
    out = {r["doc_id"]: r["group_id"] for r in D.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_tfidf_rare_term_outranks_common(spark):
    rows = [
        (1, "alpha beta shared shared"),
        (2, "gamma beta shared"),
        (3, "delta beta shared"),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = T.tfidf_top_terms(d, k=2).collect()
    top = {r["doc_id"]: r["term"] for r in out if r["rn"] == 1}
    # the doc-unique term wins everywhere; corpus-wide terms score 0
    assert top == {1: "alpha", 2: "gamma", 3: "delta"}
    scores = {(r["doc_id"], r["term"]): r["tfidf"] for r in out}
    assert all(v > 0 for k, v in scores.items() if k[1] in ("alpha", "gamma", "delta"))


def test_bm25_ranks_by_relevance(spark):
    rows = [
        (1, "spark spark spark filler filler"),       # tf=3
        (2, "spark filler filler filler filler"),     # tf=1
        (3, "filler filler filler filler filler"),    # no query term
        (4, "spark join filler filler filler"),       # two query terms
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = T.bm25_topk(d, ["spark", "join"], k=10).collect()
    got = {r["doc_id"]: (r["rn"], r["bm25"]) for r in out}
    assert 3 not in got  # no query term -> never scored
    # doc 4 matches the rare term 'join' (df=1) -> highest idf mass
    assert got[4][0] == 1
    # higher tf beats lower tf for the same single term
    assert got[1][1] > got[2][1]
    # rn is a contiguous 1..n ranking consistent with score order
    ranks = sorted((v[0], -v[1]) for v in got.values())
    assert [r for r, _ in ranks] == list(range(1, len(got) + 1))


def test_label_propagation_converges_on_two_cliques(spark):
    """Two disjoint triangles: after 2 rounds every node in a clique
    carries the clique's min label."""
    from hadoop_formats_spark.operators import graph as G

    und = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src bigint, dst bigint"
    )
    out = {r["node"]: r["label"] for r in G.label_propagation(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_cooccurrence_pairs_and_triangles(spark):
    """4-clique basket {1,2,3,4} + disjoint pair {5,6}: C(4,2)=6+1
    edges, 4 triangles in the clique, confidence = support/n_baskets(a)."""
    from hadoop_formats_spark.operators import graph as G

    rows = [(100, i) for i in (1, 2, 3, 4)] + [(200, 5), (200, 6), (300, 1), (300, 2)]
    b = spark.createDataFrame(rows, "basket_id bigint, item bigint")
    pairs = G.cooccurrence_pairs(b)
    got = {(r["item_a"], r["item_b"]): (r["support"], r["conf_a_b"])
           for r in pairs.collect()}
    assert got[(1, 2)] == (2, 1.0)       # both baskets with 1 contain 2
    assert got[(5, 6)] == (1, 1.0)
    assert len(got) == 7
    tri = G.triangle_count(pairs).collect()[0]
    assert tri["n_edges"] == 7 and tri["n_triangles"] == 4


def test_bigram_lm_penalizes_word_salad(spark):
    """Docs repeating the corpus-frequent bigram score LOW; the same
    words in a never-seen order score HIGH — the order sensitivity
    unigram surprisal cannot see."""
    rows = [(i, "the cat sat on the mat") for i in range(5)]
    rows.append((99, "mat the on sat cat the"))  # same words, salad order
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r["avg_nll"] for r in T.bigram_surprisal(d).collect()}
    assert out[99] > out[0]
    assert all(out[i] == out[0] for i in range(5))


def test_char_entropy_extremes(spark):
    import math

    d = spark.createDataFrame(
        [(1, "aaaaaaaa"), (2, "abcdabcd"), (3, "aabb")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r["e"] for r in d.select(
        "doc_id", T.char_entropy("text").alias("e")).collect()}
    assert out[1] == 0.0                      # single repeated char
    assert out[2] == round(math.log(4), 4)    # uniform over 4 chars
    assert out[3] == round(math.log(2), 4)    # uniform over 2 chars


def test_rrf_fuse_combines_and_handles_single_list_ids(spark):
    """Doc present in both lists outranks a top-1 in only one list
    (1/61+1/62 > 1/61); ids unique to either side still appear with
    the other side contributing 0."""
    from hadoop_formats_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame([(10, 1), (11, 2)], "doc_id bigint, rank int")
    b = spark.createDataFrame([(11, 1), (12, 2)], "doc_id bigint, rank int")
    out = {r["doc_id"]: (r["rn"], r["rrf"]) for r in rrf_fuse(a, b).collect()}
    assert set(out) == {10, 11, 12}
    assert out[11][0] == 1  # in both lists -> fused to the top
    assert out[10][1] == round(1 / 61, 6)  # b-side contributes 0
    assert out[12][1] == round(1 / 62, 6)


def test_simhash_identical_docs_equal_signatures(spark, docs):
    out = {r["doc_id"]: r["simhash"] for r in D.simhash32(docs).collect()}
    assert out[1] == out[4]
    assert len(out[1]) == 32 and set(out[1]) <= {"0", "1"}


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
        (5, [1.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_cosine_pairs_gemm_matches_manual(spark, vectors):
    out = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in S.cosine_near_dup_pairs(vectors, threshold=0.9, blocks=2).collect()
    }
    assert out[(1, 5)] == 1.0
    assert (1, 2) in out and abs(out[(1, 2)] - 0.9939) < 1e-9
    assert (1, 3) not in out


def test_brute_force_topk_exact(spark, vectors):
    q = vectors.filter(F.col("vec_id") == 1)
    out = S.brute_force_topk(vectors, q, k=2).collect()
    assert [(r["neighbor_id"], r["rnk"]) for r in out] == [(5, 1), (2, 2)]


def test_salted_join_equals_plain_join(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    plain = (
        li.join(o, "l_orderkey")
        .groupBy("o_orderpriority")
        .count()
        .orderBy("o_orderpriority")
        .collect()
    )
    salted = (
        salted_join(li, o, "l_orderkey", salt_cols=["l_linenumber", "l_partkey"])
        .groupBy("o_orderpriority")
        .count()
        .orderBy("o_orderpriority")
        .collect()
    )
    assert [tuple(r) for r in salted] == [tuple(r) for r in plain]


def test_salted_count_equals_plain_count(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plain = {
        r["l_returnflag"]: r["count"]
        for r in li.groupBy("l_returnflag").count().collect()
    }
    salted = {
        r["l_returnflag"]: r["n"]
        for r in salted_count_by_key(
            li, "l_returnflag", salt_cols=["l_orderkey", "l_linenumber"]
        ).collect()
    }
    assert salted == plain


def test_multimodal_resize_and_frames(spark, docs):
    packed = M.pack_binary(docs, "doc_id", "text")
    resized = M.resize_media(packed, target_len=8).collect()
    assert all(r["out_len"] == 12 for r in resized)  # 4-byte tag + 8
    frames = M.frame_sample(packed, frame_len=4, every=2).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    # doc 1: 43-char payload → 10 frames → idx 0,2,4,6,8
    assert by_doc[1] == [0, 2, 4, 6, 8]
    assert all(len(r["frame"]) == 4 for r in frames)


def test_lang_id_and_fingerprint(spark):
    rows = [
        (1, "the cat is on a mat and of course"),
        (2, "der Hund und die Katze das ist gut"),
        (3, "xyzzy plugh"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    langs = {r["doc_id"]: r["l"] for r in df.select(
        "doc_id", T.lang_id("text").alias("l")
    ).collect()}
    assert langs == {1: "en", 2: "de", 3: "und"}
    fp = df.select(T.fingerprint("text").alias("f")).collect()
    df2 = spark.createDataFrame(
        [(1, "  THE cat IS on a MAT and  of course ")], "doc_id bigint, text string"
    )
    fp2 = df2.select(T.fingerprint("text").alias("f")).collect()
    assert fp[0]["f"] == fp2[0]["f"]


def test_sign_lsh_buckets(spark, vectors):
    out = {r["id"]: r["bucket"] for r in S.sign_lsh_buckets(
        vectors, n_planes=16
    ).collect()}
    assert out[1] == out[5]  # identical vectors share a bucket
    assert len(out[1]) == 16 and set(out[1]) <= {"0", "1"}
    # near-identical vectors differ in few bits; orthogonal in many
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))
    assert ham(out[1], out[2]) <= ham(out[1], out[3])
    # deterministic across invocations
    again = {r["id"]: r["bucket"] for r in S.sign_lsh_buckets(
        vectors, n_planes=16
    ).collect()}
    assert again == out


def test_lsh_banded_near_dup_pairs(spark, vectors):
    """LSH-blocked pairs are a verified subset of the exact all-pairs
    result: every reported pair has an exact sim ≥ threshold (no false
    positives), and the trivially-identical pair is always found."""
    exact = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in S.cosine_near_dup_pairs(vectors, threshold=0.9, blocks=2).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in S.lsh_banded_near_dup_pairs(
            vectors, threshold=0.9, n_planes=16, bands=4, dim=3
        ).collect()
    }
    assert set(lsh) <= set(exact)
    assert lsh[(1, 5)] == 1.0  # identical vectors collide in every band
    for pair, sim in lsh.items():
        assert sim == exact[pair]  # verify step is exact, not estimated


def test_lsh_banded_rejects_uneven_bands(spark, vectors):
    import pytest

    with pytest.raises(ValueError):
        S.lsh_banded_near_dup_pairs(vectors, n_planes=16, bands=5, dim=3)


def test_quantize_int8_zero_vector(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.27, -1.27, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in S.quantize_int8(df).collect()}
    # all-zero vector: scale 0 must yield a zero qvec, not NaN/null
    assert out[1]["scale"] == 0.0 and out[1]["qvec"] == [0, 0, 0]
    assert out[2]["qvec"] == [127, -127, 0]
    deq = df.sparkSession.createDataFrame(
        [(out[1]["qvec"], out[1]["scale"])], "qvec array<smallint>, scale double"
    ).select(S.dequantize(F.col("qvec"), F.col("scale")).alias("v")).collect()
    assert deq[0]["v"] == [0.0, 0.0, 0.0]


def test_jaccard_doc_freq_cap(spark, docs):
    """A cap no shingle exceeds changes nothing; a tight cap drops hot
    shingles but still finds exact dups via their (identical) rare set."""
    base = {
        (r["doc_a"], r["doc_b"])
        for r in D.shingle_jaccard_pairs(docs, threshold=0.5).collect()
    }
    capped_loose = {
        (r["doc_a"], r["doc_b"])
        for r in D.shingle_jaccard_pairs(
            docs, threshold=0.5, max_doc_freq=1000
        ).collect()
    }
    assert capped_loose == base
    capped_tight = {
        (r["doc_a"], r["doc_b"])
        for r in D.shingle_jaccard_pairs(
            docs, threshold=0.5, max_doc_freq=2
        ).collect()
    }
    assert (1, 4) in capped_tight  # exact dups survive any cap
    # capped jaccard VALUES are exact (full-set verify), not lower bounds
    vals = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.shingle_jaccard_pairs(
            docs, threshold=0.5, max_doc_freq=2
        ).collect()
    }
    base_vals = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.shingle_jaccard_pairs(docs, threshold=0.5).collect()
    }
    for pair, j in vals.items():
        assert j == base_vals[pair]


def test_containment_doc_freq_cap(spark, docs):
    """A cap no shingle exceeds changes nothing; a tight cap drops hot
    shingles but still finds exact dups via their (identical) rare set."""
    base = {
        (r["doc_a"], r["doc_b"])
        for r in D.shingle_containment_pairs(docs, threshold=0.5).collect()
    }
    capped_loose = {
        (r["doc_a"], r["doc_b"])
        for r in D.shingle_containment_pairs(
            docs, threshold=0.5, max_doc_freq=1000
        ).collect()
    }
    assert capped_loose == base
    capped_tight = {
        (r["doc_a"], r["doc_b"])
        for r in D.shingle_containment_pairs(
            docs, threshold=0.5, max_doc_freq=2
        ).collect()
    }
    assert (1, 4) in capped_tight  # exact dups survive any cap


def test_jaccard_cap_plan_prunes_hot_postings(spark, docs):
    """The capped plan must anti-join hot shingles out BEFORE the
    inverted-index pair join — the 100 TB guarantee that an uncapped
    posting list never reaches the quadratic join."""
    from hadoop_formats_spark import plans

    plan = plans.executed_plan(
        D.shingle_jaccard_pairs(docs, threshold=0.8, max_doc_freq=100)
    )
    assert "LeftAnti" in plan


def test_prefix_filter_equals_exhaustive(spark, docs):
    """Prefix filtering is EXACT: output must equal the uncapped
    exhaustive Jaccard join — pairs AND values — at several thresholds
    (completeness is the whole point; a missed pair means the prefix
    bound is wrong)."""
    for t in (0.5, 0.8, 0.95):
        exhaustive = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in D.shingle_jaccard_pairs(docs, threshold=t).collect()
        }
        pf = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in D.prefix_filter_jaccard_pairs(docs, threshold=t).collect()
        }
        assert pf == exhaustive, f"threshold {t}: {pf} != {exhaustive}"
    assert D.prefix_filter_jaccard_pairs(docs, threshold=0.8).collect()


def test_prefix_filter_boundary_pair_survives(spark):
    """A pair whose true Jaccard rounds UP to the threshold (J=0.7995..
    -> round 0.8) must survive candidate generation — the half-ulp
    slack that keeps the operator aligned with the rounded verify/oracle
    filter."""
    # 4/5 overlap of distinct 1-gram tokens: J = 4/6 = 0.667 at t=0.667
    # exercises ceil boundaries; rounded filter keeps it
    rows = [(1, "a b c d e"), (2, "a b c d f")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = D.prefix_filter_jaccard_pairs(
        docs, threshold=0.667, shingle_n=1
    ).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in out] == [
        (1, 2, 0.667)
    ]


def test_prefix_filter_ceil_float_guard(spark):
    """When t*|d| is mathematically integral, binary float error must
    not bump the ceil and shorten the prefix below the provable bound
    (ADVICE r6 #4): at threshold 0.138, t = 0.138 - 0.0005 and
    t*400 evaluates to 55.00000000000001 (924 such noisy integral
    (threshold, sz) combos exist below sz=4000), so the unguarded ceil
    gives 56 and shortens the prefix by one token.  Assert the guarded
    expressions used by prefix_filter_jaccard_pairs land on the
    mathematical value, and that the bug is real (the unguarded forms
    get it wrong)."""
    from pyspark.sql import functions as F

    t, sz = 0.138 - 0.5e-3, 400  # t*sz = 55 mathematically
    row = spark.range(1).select(
        F.ceil(F.round(F.lit(t) * F.lit(sz), 9)).alias("guarded_ceil"),
        F.ceil(F.lit(t) * F.lit(sz)).alias("raw_ceil"),
        # length filter at the exact boundary: least=55, greatest=400
        (F.lit(55) >= F.round(F.lit(t) * F.lit(sz), 9)).alias("guarded_len"),
        (F.lit(55) >= F.lit(t) * F.lit(sz)).alias("raw_len"),
    ).first()
    assert row["guarded_ceil"] == 55  # prefix = 400 - 55 + 1 = 346
    assert row["raw_ceil"] == 56  # the float-noise failure the guard fixes
    assert row["guarded_len"] is True
    assert row["raw_len"] is False


def test_prefix_filter_plan_no_cross_join(spark, docs):
    """The candidate join must be an equi-join on shingle — never a
    cartesian/BNLJ — and the length filter must sit inside the join."""
    from hadoop_formats_spark import plans

    plan = plans.executed_plan(
        D.prefix_filter_jaccard_pairs(docs, threshold=0.8)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_audio_windows_rms_matches_numpy(spark):
    import numpy as np

    payload = bytes(range(256)) * 4  # 1024 bytes → 512 int16 samples
    rows = [(1, b"IMG0" + payload)]
    df = spark.createDataFrame(rows, "doc_id bigint, media binary")
    out = M.audio_windows(df, window=32, hop=16).collect()
    samples = np.frombuffer(payload, dtype="<i2").astype(np.float64)
    n_win = (len(samples) - 32) // 16 + 1
    assert len(out) == n_win
    for r in out:
        w = samples[r["win_idx"] * 16 : r["win_idx"] * 16 + 32]
        assert r["rms"] == pytest.approx(round(float(np.sqrt((w * w).mean())), 4))
    # too-short payloads emit nothing rather than a partial window
    short = spark.createDataFrame(
        [(2, b"IMG0" + b"\x01\x02" * 10)], "doc_id bigint, media binary"
    )
    assert M.audio_windows(short, window=32, hop=16).count() == 0


def test_kmeans_converges_to_natural_clusters(spark):
    # two tight groups on orthogonal axes; init takes the 2 lowest ids
    # (one from each group), so 2 iterations must separate them cleanly
    rows = [
        (1, [1.0, 0.0]), (3, [0.9, 0.1]), (5, [1.0, 0.1]),
        (2, [0.0, 1.0]), (4, [0.1, 0.9]), (6, [0.1, 1.0]),
    ]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cent = S.kmeans_iterations(e, k=2, iters=2)
    assigned = S.ivf_assign(e, cent)
    groups = {}
    for r in assigned.collect():
        groups.setdefault(r["centroid_id"], set()).add(r["vec_id"])
    assert sorted(map(sorted, groups.values())) == [[1, 3, 5], [2, 4, 6]]


def test_kmeans_l2_metric_separates_by_magnitude(spark):
    # cosine can't tell [1,1] from [10,10] (same direction); L2 must.
    rows = [
        (1, [1.0, 1.0]), (3, [1.1, 0.9]), (5, [0.9, 1.1]),
        (2, [10.0, 10.0]), (4, [10.1, 9.9]), (6, [9.9, 10.1]),
    ]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cent = S.kmeans_iterations(e, k=2, iters=2, metric="l2")
    cents = sorted(
        (r["centroid_id"], list(r["embedding"])) for r in cent.collect()
    )
    parts = S.kmeans_partials(e, cents, metric="l2").collect()
    groups = {}
    for r in parts:
        n0, d0 = groups.get(r["centroid_id"], (0, 0.0))
        groups[r["centroid_id"]] = (n0 + r["n"], d0 + r["d_sum"])
    assert {cid: g[0] for cid, g in groups.items()} == {0: 3, 1: 3}
    # inertia of a tight cluster around its own mean is small
    assert all(d / n < 0.1 for n, d in groups.values())


def test_pq_encode_stats_partitions_all_vectors(spark):
    # 8 vectors, dim=4, m=2 subspaces, k=2 codes: every subspace must
    # account for every vector exactly once, errors non-negative
    rows = [
        (i, [float(i % 2), float(i % 3), float(i % 5), float(i)])
        for i in range(8)
    ]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = S.pq_encode_stats(e, dim=4, m=2, k=2, iters=2).collect()
    per_sub = {}
    for r in out:
        per_sub[r["subspace"]] = per_sub.get(r["subspace"], 0) + r["n_vectors"]
        assert r["avg_sqdist"] >= 0.0
        assert 0 <= r["code"] < 2
    assert per_sub == {0: 8, 1: 8}
    with pytest.raises(ValueError):
        S.pq_encode_stats(e, dim=4, m=3)


def test_pq_encode_and_adc_find_true_neighbor(spark):
    # dim=4, m=2: two clean clusters per subspace; after training,
    # encoding must split them and ADC must rank the same-cluster
    # vector first for each probe
    rows = [
        (0, [0.0, 0.0, 10.0, 10.0]),
        (1, [10.0, 10.0, 0.0, 0.0]),
        (2, [0.1, 0.1, 10.1, 9.9]),   # near vec 0 in both subspaces
        (3, [9.9, 10.1, 0.1, 0.1]),   # near vec 1 in both subspaces
    ]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    books = S.pq_train(e, dim=4, m=2, k=2, iters=2)
    enc = {r["vec_id"]: list(r["codes"]) for r in
           S.pq_encode(e, books, sub=2).collect()}
    assert enc[0] == enc[2] and enc[1] == enc[3] and enc[0] != enc[1]
    q = e.filter(F.col("vec_id") < 2)
    top1 = S.pq_adc_topk(S.pq_encode(e, books, sub=2), books, q,
                         sub=2, k=1).collect()
    got = {r["query_id"]: r["neighbor_id"] for r in top1}
    assert got == {0: 2, 1: 3}


def test_repetition_metrics_hand_computed(spark):
    rows = [
        (1, "a b a b a b"),      # bigrams: ab ba ab ba ab → 5 total, 2 distinct
        (2, "w x y z"),          # 3 distinct bigrams, no repeats
        (3, "solo"),             # < 2 tokens → drops out
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in T.repetition_metrics(d, n=2).collect()}
    assert set(out) == {1, 2}
    r1 = out[1]
    assert (r1["n_ngrams"], r1["n_distinct"]) == (5, 2)
    assert r1["dup_frac"] == pytest.approx(round(1 - 2 / 5, 4))
    assert r1["top_frac"] == pytest.approx(round(3 / 5, 4))  # 'a b' ×3
    r2 = out[2]
    assert (r2["n_ngrams"], r2["n_distinct"]) == (3, 3)
    assert r2["dup_frac"] == 0.0 and r2["top_frac"] == pytest.approx(
        round(1 / 3, 4)
    )


def test_contamination_overlap_exact_and_disjoint(spark):
    bench = spark.createDataFrame(
        [(100, "one two three four five six")], "doc_id bigint, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "one two three four five six"),        # identical → frac 1.0
            (2, "nothing in common with that suite"),  # disjoint → frac 0.0
            (3, "zero one two three four five end"),   # partial overlap
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in D.contamination_overlap(train, bench, shingle_n=5).collect()
    }
    assert out[1]["contamination_frac"] == 1.0
    assert out[2]["contamination_frac"] == 0.0
    # doc 3: shingles at offsets 1..3; 'one two three four five' is the
    # only one of its 3 shingles present in the bench set
    assert out[3]["n_shingles"] == 3 and out[3]["n_contaminated"] == 1


def test_pack_sequences_bins_and_stats(spark):
    from hadoop_formats_spark.operators.packing import pack_sequences, pack_stats

    # 4 docs of 3 tokens each in one (lang, shard) partition; budget 6
    # → exclusive cumsums 0,3,6,9 → bins 0,0,1,1
    rows = [(i * 8, "en", "x y z") for i in range(4)]  # doc_id % 8 == 0 ⇒ one shard
    d = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    packed = pack_sequences(d, budget=6, part_cols=("lang",), n_shards=8)
    bins = {r["doc_id"]: r["bin_id"] for r in packed.collect()}
    assert bins == {0: 0, 8: 0, 16: 1, 24: 1}
    stats = pack_stats(packed, budget=6, part_cols=("lang",)).collect()
    assert len(stats) == 2
    for s in stats:
        assert s["n_docs"] == 2 and s["total_tokens"] == 6 and s["fill_frac"] == 1.0


def test_pii_scrub_counts_and_redaction(spark):
    d = spark.createDataFrame(
        [(1, "mail me at bob.smith@corp.example.org or +1-555-0199 from 192.168.0.1")],
        "doc_id bigint, text string",
    )
    counts = T.pii_counts(F.col("text"))
    row = d.select(
        *[c.alias(k) for k, c in counts.items()],
        T.scrub_pii(F.col("text")).alias("scrubbed"),
    ).collect()[0]
    assert (row["n_emails"], row["n_phones"], row["n_ips"]) == (1, 1, 1)
    assert row["scrubbed"] == "mail me at <EMAIL> or <PHONE> from <IP>"


def test_pack_sequences_invariants_random_corpus(spark):
    # property-style invariants on a deterministic pseudo-random corpus:
    # every doc lands in exactly one bin; within each (lang, shard) the
    # bins are contiguous from 0; every bin except possibly the last
    # would overflow the budget if its first doc moved one bin earlier
    # (i.e. the packer is greedy: a bin closes only when adding the
    # next doc crosses the budget).
    from hadoop_formats_spark.operators.packing import pack_sequences

    budget = 50
    rows = [
        (i, ["en", "de"][i % 2], "w " * (1 + (i * 7919) % 40))  # 1..40 tokens
        for i in range(200)
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    packed = pack_sequences(
        d, budget=budget, part_cols=("lang",), n_shards=4
    ).collect()
    assert len(packed) == 200  # one row per doc
    by_part = {}
    for r in packed:
        by_part.setdefault((r["lang"], r["shard"]), []).append(r)
    for rows_ in by_part.values():
        rows_.sort(key=lambda r: r["doc_id"])
        bins = [r["bin_id"] for r in rows_]
        assert bins[0] == 0
        assert all(b2 - b1 in (0, 1) for b1, b2 in zip(bins, bins[1:])), (
            "bins must be contiguous"
        )
        # greedy property: cumulative tokens before a doc in bin b is
        # >= b * budget (the bin opened because the budget was crossed)
        cum = 0
        for r in rows_:
            assert r["bin_id"] == cum // budget
            cum += r["n_tokens"]


def test_connected_components_empty_graph(spark):
    # regression: sum over zero label rows is NULL; int(None) crashed
    out = D.connected_components(
        spark.createDataFrame([], "doc_a long, doc_b long")
    ).collect()
    assert out == []


def test_connected_components_converges_at_budget_boundary(spark):
    # regression: an 8-node chain converges exactly in the last allowed
    # round; the stall is only observable one round later, which the
    # loop budget must reserve (used to raise a spurious error)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "doc_a long, doc_b long"
    )
    out = D.connected_components(pairs, max_iter=5).collect()
    assert sorted((r["doc_id"], r["group_id"]) for r in out) == [
        (i, 0) for i in range(8)
    ]


def test_connected_components_still_raises_when_unconverged(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(29)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs, max_iter=5).collect()


def test_binned_interval_join_rejects_right_full(spark):
    from hadoop_formats_spark.operators.ranges import binned_interval_join

    pts = spark.createDataFrame([(5.0,)], "p double")
    iv = spark.createDataFrame([(0.0, 30.0)], "lo double, hi double")
    with pytest.raises(ValueError, match="inner.*or.*left"):
        binned_interval_join(pts, iv, "p", "lo", "hi", bin_width=10.0, how="full")
    # left outer keeps unmatched points as null-extended rows
    pts2 = spark.createDataFrame([(5.0,), (99.0,)], "p double")
    rows = binned_interval_join(
        pts2, iv, "p", "lo", "hi", bin_width=10.0, how="left"
    ).collect()
    assert len(rows) == 2
    assert sorted((r["p"], r["lo"]) for r in rows) == [(5.0, 0.0), (99.0, None)]


def test_random_projection_matches_numpy(spark):
    import numpy as np

    dim, out_dim = 8, 4
    vec = [float(i + 1) for i in range(dim)]
    d = spark.createDataFrame([(1, vec)], "vec_id bigint, embedding array<double>")
    row = S.random_projection(
        d, out_dim=out_dim, dim=dim, method="fold"
    ).collect()[0]
    planes = np.array(
        [[S.rademacher_sign(p, dd) for dd in range(dim)] for p in range(out_dim)],
        dtype=np.float64,
    )
    expect = np.round(planes @ np.array(vec) / np.sqrt(out_dim), 6)
    assert row["proj"] == pytest.approx(expect.tolist())

def test_band_bucket_pairs_hot_bucket_cap(spark):
    # degenerate corpus: constant text ⇒ every doc lands in the same
    # bucket of every band.  Uncapped, the pair expansion is quadratic
    # in the corpus; the cap drops the hot buckets (candidate loss
    # only) and reports them through dropped_out.
    n = 40
    docs = spark.createDataFrame(
        [(i, "same boilerplate text repeated everywhere always") for i in range(n)],
        "doc_id bigint, text string",
    )
    uncapped = D.minhash_band_pairs(docs, num_hashes=8, bands=4)
    assert uncapped.count() == n * (n - 1) // 2

    dropped: list = []
    capped = D.minhash_band_pairs(
        docs, num_hashes=8, bands=4, max_bucket_size=10, dropped_out=dropped
    )
    assert capped.count() == 0  # every bucket holds all 40 docs
    stats = dropped[0].collect()
    assert len(stats) == 4  # one hot bucket per band
    assert all(r["bucket_size"] == n for r in stats)


def test_band_bucket_pairs_cap_keeps_small_buckets(spark, docs):
    # a generous cap must not change results on a normal corpus
    base = {(r["doc_a"], r["doc_b"]) for r in D.minhash_band_pairs(docs).collect()}
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_band_pairs(docs, max_bucket_size=100).collect()
    }
    assert capped == base


def test_connected_components_reliable_checkpoint_dir(spark, tmp_path):
    # checkpoint_dir switches lineage truncation to RELIABLE checkpoints
    # (what a real cluster run needs); results must be identical and the
    # checkpoint files must actually land in the directory.
    import os

    ckpt = str(tmp_path / "ckpt")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "doc_a bigint, doc_b bigint"
    )
    out = {
        r["doc_id"]: r["group_id"]
        for r in D.connected_components(pairs, checkpoint_dir=ckpt).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    found = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert found, "no reliable checkpoint files written"


def test_contamination_shuffle_join_matches_broadcast(spark, docs):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id bigint, text string",
    )
    key = lambda rows: {  # noqa: E731
        r["doc_id"]: (r["n_shingles"], r["n_contaminated"]) for r in rows
    }
    bcast = key(D.contamination_overlap(docs, bench, shingle_n=5).collect())
    shuf = key(
        D.contamination_overlap(
            docs, bench, shingle_n=5, broadcast_bench=False
        ).collect()
    )
    assert shuf == bcast and bcast  # same numbers, either join strategy


def _ppm_p5(w, h, pixels):
    return b"P5\n%d %d\n255\n" % (w, h) + bytes(pixels)


def _ppm_p6(w, h, rgb):
    return b"P6\n%d %d\n255\n" % (w, h) + bytes(rgb)


def test_decode_pnm_pure_numpy():
    # P5 grayscale: exact mean
    g = M.decode_pnm(_ppm_p5(4, 2, range(8)))
    assert g.shape == (2, 4) and g.mean() == 3.5
    # P6 RGB: BT.601 integer luma
    rgb = [255, 0, 0, 0, 255, 0]  # one red, one green pixel
    c = M.decode_pnm(_ppm_p6(2, 1, rgb))
    assert c.shape == (1, 2)
    assert c[0, 0] == (299 * 255) // 1000 and c[0, 1] == (587 * 255) // 1000
    # comments in the header
    assert M.decode_pnm(b"P5\n# a comment\n2 1\n255\n\x00\xff").mean() == 127.5
    # 16-bit maxval: big-endian 2-byte samples rescaled onto 0..255
    # (ADVICE r13 — the built-in parser owns the full PNM family)
    import struct

    g16 = M.decode_pnm(b"P5\n2 1\n65535\n" + struct.pack(">HH", 0, 65535))
    assert g16[0, 0] == 0.0 and g16[0, 1] == pytest.approx(255.0)
    assert (
        M.decode_pnm(b"P5\n2 1\n1000\n" + struct.pack(">HH", 500, 1000))[
            0, 0
        ]
        == pytest.approx(127.5)
    )
    # rejections: bad magic, truncated 8-bit raster, truncated 16-bit
    # raster (2 bytes/sample), maxval out of range
    assert M.decode_pnm(b"JFIF....") is None
    assert M.decode_pnm(_ppm_p5(4, 2, range(7))) is None
    assert M.decode_pnm(b"P5\n2 1\n65535\n\x00\x00\x00") is None
    assert M.decode_pnm(b"P5\n2 1\n65536\n\x00\x00\x00\x00") is None


def _bmp24(w, h, bgr_rows_topdown, *, bottom_up=True, bpp=24, comp=0):
    """Minimal BITMAPINFOHEADER BMP with the given top-down pixel rows
    (list of rows, each a list of (B,G,R) byte tuples)."""
    import struct

    import numpy as np

    nch = bpp // 8
    stride = ((w * nch + 3) // 4) * 4
    px = np.zeros((h, stride), dtype=np.uint8)
    for r, row in enumerate(bgr_rows_topdown):
        flat = [c for pix in row for c in (list(pix) + [0] * (nch - 3))]
        px[r, : w * nch] = flat
    if bottom_up:
        px = px[::-1]
    data = px.tobytes()
    hdr = struct.pack(
        "<2sIHHI", b"BM", 54 + len(data), 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII",
        40,
        w,
        h if bottom_up else -h,
        1,
        bpp,
        comp,
        len(data),
        2835,
        2835,
        0,
        0,
    )
    return hdr + data


def test_decode_bmp_pure_numpy():
    rows = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (10, 20, 30)]]
    # luma from (B,G,R): (299R + 587G + 114B) // 1000
    want = [
        [(114 * 255) // 1000, (587 * 255) // 1000],
        [(299 * 255) // 1000, (299 * 30 + 587 * 20 + 114 * 10) // 1000],
    ]
    g = M.decode_bmp(_bmp24(2, 2, rows))
    assert g.shape == (2, 2) and g.tolist() == want
    # top-down (negative height) and 32-bit BGRX agree with bottom-up
    assert M.decode_bmp(_bmp24(2, 2, rows, bottom_up=False)).tolist() == want
    assert M.decode_bmp(_bmp24(2, 2, rows, bpp=32)).tolist() == want
    # width 2 @24bpp exercises the 4-byte row stride padding (6→8)
    # rejections: bad magic, compressed, paletted 8bpp, truncated
    assert M.decode_bmp(b"JFIF....") is None
    assert M.decode_bmp(_bmp24(2, 2, rows, comp=1)) is None
    payload = _bmp24(2, 2, rows)
    assert M.decode_bmp(payload[:-1]) is None
    assert M.decode_bmp(payload[:20]) is None


def test_decode_features_real_pnm_without_pil(spark):
    # the env-gated 'real' branch runs in CI: PNM payloads decode with
    # the built-in numpy parser, no PIL needed (VERDICT r12 #4)
    rows = [
        (1, bytearray(M.MAGIC_TAG + _ppm_p5(4, 2, range(8)))),
        (2, bytearray(M.MAGIC_TAG + _ppm_p6(2, 1, [255, 0, 0, 0, 255, 0]))),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, media binary")
    out = {
        r.doc_id: r
        for r in M.decode_features(df, decode="real").collect()
    }
    assert out[1].feat_dim == 8
    assert out[1].feat_mean == round(3.5 / 255.0, 6)
    assert out[2].feat_dim == 2
    assert out[2].feat_mean == round((76 + 149) / 2 / 255.0, 6)


def test_decode_features_real_bmp_without_pil(spark):
    rows = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (10, 20, 30)]]
    df = spark.createDataFrame(
        [(1, bytearray(M.MAGIC_TAG + _bmp24(2, 2, rows)))],
        "doc_id bigint, media binary",
    )
    r = M.decode_features(df, decode="real").collect()[0]
    luma = [
        (114 * 255) // 1000,
        (587 * 255) // 1000,
        (299 * 255) // 1000,
        (299 * 30 + 587 * 20 + 114 * 10) // 1000,
    ]
    assert r.feat_dim == 4
    assert r.feat_mean == round(sum(luma) / 4 / 255.0, 6)


def test_decode_png_pure_numpy():
    import struct
    import zlib

    import numpy as np

    # encode->decode round-trips every filter type, gray and RGB
    rng = np.random.RandomState(7)
    gray = rng.randint(0, 256, size=(5, 4)).astype(np.uint8)
    rgb = rng.randint(0, 256, size=(6, 3, 3)).astype(np.uint8)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        assert np.array_equal(
            M.decode_png(M.encode_png(gray, filters=filters)),
            gray.astype(np.float64),
        )
        p = rgb.astype(np.int64)
        want = (
            (299 * p[:, :, 0] + 587 * p[:, :, 1] + 114 * p[:, :, 2])
            // 1000
        ).astype(np.float64)
        assert np.array_equal(
            M.decode_png(M.encode_png(rgb, filters=filters)), want
        )
    # independent of the encoder: a HAND-FILTERED stream per the spec
    # (row 0 Average, row 1 Paeth) must reconstruct exactly — guards
    # against a symmetric encode/decode bug that round-trips would mask
    def chunk(t, b):
        return (
            struct.pack(">I", len(b))
            + t
            + b
            + struct.pack(">I", zlib.crc32(t + b))
        )

    sig = b"\x89PNG\r\n\x1a\n"
    hand = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes([3, 10, 15, 4, 20, 170])))
        + chunk(b"IEND", b"")
    )
    assert M.decode_png(hand).tolist() == [[10.0, 20.0], [30.0, 200.0]]
    # rejections / PIL-gate fallthroughs: bad magic, truncated,
    # sub-byte depths, bogus interlace method, palette-without-PLTE
    # (16-bit, 8-bit palette, and Adam7 are IN scope since r16),
    # corrupt deflate
    assert M.decode_png(b"JFIF....") is None
    assert M.decode_png(sig + b"\x00" * 30) is None
    for depth, ct, il in [(4, 0, 0), (8, 3, 0), (8, 0, 2), (4, 3, 0)]:
        bad = (
            sig
            + chunk(
                b"IHDR", struct.pack(">IIBBBBB", 2, 2, depth, ct, 0, 0, il)
            )
            + chunk(b"IDAT", zlib.compress(b"\x00" * 10))
            + chunk(b"IEND", b"")
        )
        assert M.decode_png(bad) is None, (depth, ct, il)
    # 16-bit gray + RGB round-trips across every filter type: samples
    # are big-endian u16, luma matches the 8-bit formula on 16-bit
    # values rescaled onto 0..255 as v*255/65535 (decode_pnm's wide
    # convention)
    g16 = rng.randint(0, 65536, (10, 14)).astype(np.uint16)
    got = M.decode_png(M.encode_png(g16, filters=[0, 1, 2, 3, 4]))
    assert np.allclose(got, g16.astype(np.float64) * 255.0 / 65535.0)
    rgb16 = rng.randint(0, 65536, (8, 6, 3)).astype(np.uint16)
    p16 = rgb16.astype(np.int64)
    want16 = (
        (299 * p16[:, :, 0] + 587 * p16[:, :, 1] + 114 * p16[:, :, 2])
        // 1000
    ).astype(np.float64) * (255.0 / 65535.0)
    got16 = M.decode_png(M.encode_png(rgb16, filters=[4, 3, 2, 1, 0]))
    assert np.allclose(got16, want16)
    # 8-bit palette round-trip: PLTE lookup then the same luma
    pal = rng.randint(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.randint(0, 16, (12, 12)).astype(np.uint8)
    prgb = pal[idx].astype(np.int64)
    wantp = (
        (299 * prgb[:, :, 0] + 587 * prgb[:, :, 1] + 114 * prgb[:, :, 2])
        // 1000
    ).astype(np.float64)
    gotp = M.decode_png(M.encode_png(idx, palette=pal, filters=[1, 4, 2]))
    assert np.array_equal(gotp, wantp)
    # an out-of-range palette index is corrupt, not PIL-gated
    over = M.encode_png(
        np.full((4, 4), 20, dtype=np.uint8), palette=pal[:10]
    )
    assert M.decode_png(over) is None
    # Adam7 interlaced round-trips (r16): every mode, odd sizes so
    # partial/empty passes are exercised, filters cycling per pass
    for arr, kw in [
        (rng.randint(0, 256, (13, 17)).astype(np.uint8), {}),
        (rng.randint(0, 256, (1, 1)).astype(np.uint8), {}),  # pass 1 only
        (rng.randint(0, 256, (9, 11, 3)).astype(np.uint8), {}),
        (rng.randint(0, 65536, (10, 7)).astype(np.uint16), {}),
        (
            rng.randint(0, 16, (12, 10)).astype(np.uint8),
            {"palette": pal},
        ),
    ]:
        plain = M.decode_png(M.encode_png(arr, **kw))
        laced = M.decode_png(
            M.encode_png(arr, filters=[4, 3, 2, 1, 0], interlace=True, **kw)
        )
        assert laced is not None and np.allclose(laced, plain), (
            arr.shape,
            kw.keys(),
        )
    # encoder-independent Adam7 spec vector: 4x4 gray8, A[i][j] =
    # 10*i + j, filter 0 everywhere.  Pass pixel order per the spec
    # grid — p1 (0,0); p4 (0,2); p5 (2,0),(2,2); p6 rows 0,2 cols
    # 1,3; p7 rows 1,3 all cols (passes 2,3 are empty at w=h=4)
    A = [[10 * i + j for j in range(4)] for i in range(4)]
    stream = bytes(
        [0, A[0][0]]
        + [0, A[0][2]]
        + [0, A[2][0], A[2][2]]
        + [0, A[0][1], A[0][3], 0, A[2][1], A[2][3]]
        + [0] + A[1] + [0] + A[3]
    )
    hand7 = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(stream))
        + chunk(b"IEND", b"")
    )
    assert M.decode_png(hand7).tolist() == [[float(v) for v in r] for r in A]
    # encoder-independent 16-bit spec vector (network byte order): a
    # symmetric little-endian bug in encode+decode would round-trip
    # silently, so pin a hand-built stream — 1x2 gray16, filter 0,
    # raw bytes 01 02 03 04 = samples 0x0102, 0x0304
    hand16 = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 16, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes([0, 1, 2, 3, 4])))
        + chunk(b"IEND", b"")
    )
    got_hand = M.decode_png(hand16)
    assert np.allclose(
        got_hand, [[0x0102 * 255.0 / 65535.0, 0x0304 * 255.0 / 65535.0]]
    )
    ok = M.encode_png(gray)
    # contract: a stream truncated inside the IEND trailer still decodes
    # (the chunk walk stops when <8 header bytes remain; every IDAT byte
    # already arrived) and yields the same pixels as the intact stream
    trunc = M.decode_png(ok[:-8])
    assert trunc is not None and (trunc == M.decode_png(ok)).all()
    corrupt = ok.replace(b"IDAT", b"IDAT", 1)[:40] + b"\x00" * 10
    assert M.decode_png(corrupt) is None


def test_decode_tiff_pure_numpy():
    import struct

    import numpy as np

    rng = np.random.RandomState(3)
    gray = rng.randint(0, 256, size=(5, 4)).astype(np.uint8)
    rgb = rng.randint(0, 256, size=(4, 4, 3)).astype(np.uint8)
    p = rgb.astype(np.int64)
    want_rgb = (
        (299 * p[:, :, 0] + 587 * p[:, :, 1] + 114 * p[:, :, 2]) // 1000
    ).astype(np.float64)
    # both byte orders x single/multi-strip, gray and RGB
    for be in (False, True):
        for rps in (None, 2, 1):
            assert np.array_equal(
                M.decode_tiff(
                    M.encode_tiff(gray, big_endian=be, rows_per_strip=rps)
                ),
                gray.astype(np.float64),
            ), (be, rps)
            assert np.array_equal(
                M.decode_tiff(
                    M.encode_tiff(rgb, big_endian=be, rows_per_strip=rps)
                ),
                want_rgb,
            ), (be, rps)
    # independent of the encoder: hand-built II file with the pixel
    # DATA before the IFD (spec-legal, encoder never emits this) —
    # guards a symmetric encode/decode bug round-trips would mask
    out = bytearray(b"II*\x00" + struct.pack("<I", 12))
    out += bytes([1, 2, 3, 250])  # raster at offset 8

    def e(tag, t, c, val):
        return struct.pack("<HHI", tag, t, c) + val

    out += struct.pack("<H", 9)
    out += e(256, 4, 1, struct.pack("<I", 2))
    out += e(257, 4, 1, struct.pack("<I", 2))
    out += e(258, 3, 1, struct.pack("<HH", 8, 0))
    out += e(259, 3, 1, struct.pack("<HH", 1, 0))
    out += e(262, 3, 1, struct.pack("<HH", 1, 0))
    out += e(273, 4, 1, struct.pack("<I", 8))
    out += e(277, 3, 1, struct.pack("<HH", 1, 0))
    out += e(278, 4, 1, struct.pack("<I", 2))
    out += e(279, 4, 1, struct.pack("<I", 4))
    out += struct.pack("<I", 0)
    assert M.decode_tiff(bytes(out)).tolist() == [[1.0, 2.0], [3.0, 250.0]]
    # PackBits (compression 32773, r16): round-trips both byte orders
    # and strip splits, on runs-heavy and random rasters
    runs = np.repeat(
        rng.randint(0, 4, size=(5, 3)).astype(np.uint8), 6, axis=1
    )[:, :16]
    for arr, want in (
        (gray, gray.astype(np.float64)),
        (rgb, want_rgb),
        (runs, runs.astype(np.float64)),
        (np.zeros((3, 300), dtype=np.uint8), np.zeros((3, 300))),  # >128 run
    ):
        for be in (False, True):
            for rps in (None, 2):
                assert np.array_equal(
                    M.decode_tiff(
                        M.encode_tiff(
                            arr,
                            big_endian=be,
                            rows_per_strip=rps,
                            packbits=True,
                        )
                    ),
                    want,
                ), (arr.shape, be, rps)
    # PackBits spec vectors, independent of our encoder
    assert M._packbits_decode(bytes([0xFE, 0xAA])) == b"\xaa" * 3
    assert (
        M._packbits_decode(bytes([0x02, 0x80, 0x00, 0x2A]))
        == b"\x80\x00\x2a"
    )
    assert M._packbits_decode(b"") == b""
    blob = bytes(rng.randint(0, 3, 1000).astype(np.uint8))
    assert M._packbits_decode(M._packbits_encode(blob)) == blob
    # LZW (compression 5, r16): hand spec vector independent of our
    # encoder — 9-bit MSB-first codes Clear,'A','B',258(='AB'),EOI
    bits = "".join(format(c, "09b") for c in (256, 65, 66, 258, 257))
    bits += "0" * (-len(bits) % 8)
    hand_lzw = bytes(
        int(bits[i : i + 8], 2) for i in range(0, len(bits), 8)
    )
    assert M._lzw_decode(hand_lzw) == b"ABAB"
    # round-trips crossing every early-change width boundary
    # (510/1022/2046) and the 4094 table reset
    big = bytes(rng.randint(0, 256, 120000).astype(np.uint8))
    assert M._lzw_decode(M._lzw_encode(big)) == big
    runsy = bytes(rng.randint(0, 4, 50000).astype(np.uint8))
    assert M._lzw_decode(M._lzw_encode(runsy)) == runsy
    assert M._lzw_decode(M._lzw_encode(b"")) == b""
    # a stream that does not start with Clear is malformed
    assert M._lzw_decode(b"\x00\x41") is None
    # LZW TIFFs, with and without the horizontal-differencing
    # predictor (tag 317), byte orders and strip splits
    for arr, want in ((gray, gray.astype(np.float64)), (rgb, want_rgb)):
        for be in (False, True):
            for pred in (1, 2):
                assert np.array_equal(
                    M.decode_tiff(
                        M.encode_tiff(
                            arr,
                            big_endian=be,
                            rows_per_strip=2,
                            lzw=True,
                            predictor=pred,
                        )
                    ),
                    want,
                ), (arr.shape, be, pred)
    # predictor composes with PackBits, deflate, and no-compression
    assert np.array_equal(
        M.decode_tiff(M.encode_tiff(rgb, predictor=2, packbits=True)),
        want_rgb,
    )
    assert np.array_equal(
        M.decode_tiff(M.encode_tiff(rgb, predictor=2)), want_rgb
    )
    # Adobe deflate (compression 8, r16): stdlib zlib per strip
    for be in (False, True):
        for pred in (1, 2):
            assert np.array_equal(
                M.decode_tiff(
                    M.encode_tiff(
                        rgb,
                        big_endian=be,
                        rows_per_strip=2,
                        deflate=True,
                        predictor=pred,
                    )
                ),
                want_rgb,
            ), (be, pred)
    # rejections / PIL-gate fallthroughs
    assert M.decode_tiff(b"JFIF....") is None
    assert M.decode_tiff(b"II*\x00\x00\x00") is None
    full = M.encode_tiff(gray)
    assert M.decode_tiff(full[:-3]) is None  # truncated strip
    # CCITT G3 (259 = 3) still falls through to the PIL gate
    comp = bytearray(full)
    # entry 4 (tag 259) value lives at 8 + 2 + 12*3 + 8 in our layout
    comp[8 + 2 + 12 * 3 + 8] = 3
    assert M.decode_tiff(bytes(comp)) is None
    # deflate with a garbage stream is corrupt, not PIL-gated
    comp[8 + 2 + 12 * 3 + 8] = 8
    assert M.decode_tiff(bytes(comp)) is None


def test_decode_features_real_tiff_without_pil(spark):
    import numpy as np

    rgb = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    p = rgb.astype(np.int64)
    luma = (
        299 * p[:, :, 0] + 587 * p[:, :, 1] + 114 * p[:, :, 2]
    ) // 1000
    df = spark.createDataFrame(
        [
            (
                1,
                bytearray(
                    M.MAGIC_TAG
                    + M.encode_tiff(rgb, big_endian=True, rows_per_strip=2)
                ),
            )
        ],
        "doc_id bigint, media binary",
    )
    r = M.decode_features(df, decode="real").collect()[0]
    assert r.feat_dim == 16
    assert r.feat_mean == round(float(luma.mean()) / 255.0, 6)


def test_decode_features_real_png_without_pil(spark):
    import numpy as np

    rgb = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    p = rgb.astype(np.int64)
    luma = (
        299 * p[:, :, 0] + 587 * p[:, :, 1] + 114 * p[:, :, 2]
    ) // 1000
    df = spark.createDataFrame(
        [
            (
                1,
                bytearray(
                    M.MAGIC_TAG
                    + M.encode_png(rgb, filters=[0, 1, 2, 3, 4])
                ),
            )
        ],
        "doc_id bigint, media binary",
    )
    r = M.decode_features(df, decode="real").collect()[0]
    assert r.feat_dim == 16
    assert r.feat_mean == round(float(luma.mean()) / 255.0, 6)


def test_decode_features_pnm_magic_unparseable_raises_everywhere(spark):
    # PNM magic + truncated raster = corrupt image: ValueError with the
    # accurate diagnostic in BOTH the PIL and no-PIL environments —
    # never handed to PIL, never a missing-library error (ADVICE r13)
    df = spark.createDataFrame(
        [(1, bytearray(M.MAGIC_TAG + b"P5\n4 4\n255\n\x00"))],
        "doc_id bigint, media binary",
    )
    with pytest.raises(Exception, match="unparseable"):
        M.decode_features(df, decode="real").collect()


def test_winnow_pos_overflow_guard(spark):
    # a doc with >= 2^20 grams would bleed position bits into the
    # window-min hash: the encoded key raises instead (ADVICE r13)
    big = spark.createDataFrame(
        [(9, "a " * 1_050_000)], "doc_id bigint, text string"
    )
    with pytest.raises(Exception, match="exceeds 2\\^20"):
        D.winnow_fingerprints(big, k=2, w=4).count()


def test_winnow_chunked_equals_unchunked(spark):
    # the chunked escape hatch is EXACT, not approximate: with overlap
    # w+k-1 every w-gram window lies intact in some chunk, so the
    # per-chunk selections union to the unchunked selection set
    import numpy as np

    rng = np.random.RandomState(42)
    docs = spark.createDataFrame(
        [
            (
                int(i),
                " ".join(
                    f"t{v}" for v in rng.randint(0, 30, size=200)
                ),
            )
            for i in range(6)
        ],
        "doc_id bigint, text string",
    )
    base = {
        (r.doc_id, r.h)
        for r in D.winnow_fingerprints(docs, k=3, w=4).collect()
    }
    for chunk_n in (16, 37, 64, 199, 1 << 20):
        got = {
            (r.doc_id, r.h)
            for r in D.winnow_fingerprints_chunked(
                docs, k=3, w=4, chunk_tokens_n=chunk_n
            ).collect()
        }
        assert got == base, chunk_n
    with pytest.raises(ValueError, match="ceiling"):
        D.winnow_fingerprints_chunked(docs, chunk_tokens_n=(1 << 20) + 1)
    with pytest.raises(ValueError, match="overlap"):
        D.winnow_fingerprints_chunked(docs, k=3, w=4, chunk_tokens_n=6)


def test_winnow_chunked_handles_over_2_20_gram_doc(spark):
    # the doc the unchunked operator LOUDLY rejects (>2^20 grams)
    # winnows chunk-by-chunk and matches a driver-side reference
    # implementation of SIGMOD'03 winnowing on the full document
    import hashlib

    k, w = 2, 4
    n_tok = (1 << 20) + 5_000
    toks = [f"w{i % 997}x{i % 31}" for i in range(n_tok)]
    text = " ".join(toks)
    big = spark.createDataFrame(
        [(9, text)], "doc_id bigint, text string"
    )
    with pytest.raises(Exception, match="exceeds 2\\^20"):
        D.winnow_fingerprints(big, k=k, w=w).count()
    got = {
        r.h
        for r in D.winnow_fingerprints_chunked(
            big, k=k, w=w, chunk_tokens_n=1 << 19
        ).collect()
    }
    # reference: hash every k-gram, min-by (h, pos) per w-window
    hs = [
        int(
            hashlib.md5(
                " ".join(toks[i : i + k]).encode()
            ).hexdigest()[:8],
            16,
        )
        for i in range(n_tok - k + 1)
    ]
    want = set()
    for s in range(len(hs) - w + 1):
        want.add(min(hs[s : s + w]))
    assert got == want


def test_decode_features_real_non_pnm_fails_loud_without_pil(spark, docs):
    packed = M.pack_binary(docs, "doc_id", "text")
    try:
        import PIL.Image  # noqa: F401

        have_pil = True
    except ImportError:
        have_pil = False
    if have_pil:
        pytest.skip("PIL present: non-PNM payloads decode via PIL")
    # text payloads are not PNM and there is no PIL: the job must fail
    # loudly at execution, never silently stub
    with pytest.raises(Exception, match="decode='real'"):
        M.decode_features(packed, decode="real").collect()
    with pytest.raises(ValueError, match="decode must be"):
        M.decode_features(packed, decode="auto")


def test_dim_inference_rejects_empty_corpus(spark):
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    with pytest.raises(ValueError, match="empty corpus"):
        S.random_projection(empty, out_dim=4)
    with pytest.raises(ValueError, match="empty corpus"):
        S.sign_lsh_buckets(empty)

def test_sign_lsh_gemm_matches_fold(spark, vectors):
    fold = {r["id"]: r["bucket"] for r in S.sign_lsh_buckets(vectors, method="fold").collect()}
    gemm = {r["id"]: r["bucket"] for r in S.sign_lsh_buckets(vectors, method="gemm").collect()}
    assert gemm == fold and len(fold) == 5
    with pytest.raises(ValueError, match="method must be"):
        S.sign_lsh_buckets(vectors, method="blas")


def test_random_projection_gemm_matches_fold(spark, vectors):
    fold = {
        r["vec_id"]: r["proj"]
        for r in S.random_projection(
            vectors, out_dim=4, dim=3, method="fold"
        ).collect()
    }
    gemm = {
        r["vec_id"]: r["proj"]
        for r in S.random_projection(vectors, out_dim=4, dim=3, method="gemm").collect()
    }
    for vid, pf in fold.items():
        assert gemm[vid] == pytest.approx(pf, abs=1e-6)


def test_lsh_banded_gemm_matches_fold(spark):
    # a corpus with real near-dup structure: clusters around 3 axes
    import numpy as np

    rng = np.random.default_rng(3)
    base = np.eye(3)
    rows = []
    for i in range(30):
        v = base[i % 3] + rng.normal(scale=0.05, size=3)
        rows.append((i, [float(x) for x in v]))
    d = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    key = lambda df: {  # noqa: E731
        (r["id_a"], r["id_b"]): r["sim"] for r in df.collect()
    }
    fold = key(S.lsh_banded_near_dup_pairs(d, threshold=0.9, dim=3))
    gemm = key(S.lsh_banded_near_dup_pairs(d, threshold=0.9, dim=3, method="gemm"))
    assert gemm == fold and fold

def test_domain_quota_two_phase_matches_naive(spark):
    from hadoop_formats_spark.operators.quota import domain_quota

    rows = [(i, f"dom{i % 3}", f"text {i}") for i in range(60)]
    d = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    key = lambda df: sorted(  # noqa: E731
        (r["source"], r["doc_id"], r["admit_rank"]) for r in df.collect()
    )
    naive = key(domain_quota(d, quota=5))
    fast = key(domain_quota(d, quota=5, prefilter_safety=4.0))
    assert fast == naive
    per_dom = {}
    for s, _, _ in naive:
        per_dom[s] = per_dom.get(s, 0) + 1
    assert per_dom == {"dom0": 5, "dom1": 5, "dom2": 5}


def test_domain_quota_fallback_guard_keeps_exactness(spark):
    from hadoop_formats_spark.operators.quota import domain_quota

    # absurdly small safety → the prefilter underfills every domain →
    # every domain takes the full-rank fallback; result must still be
    # exactly the naive ranking
    rows = [(i, f"dom{i % 2}", "t") for i in range(40)]
    d = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    key = lambda df: sorted(  # noqa: E731
        (r["source"], r["doc_id"], r["admit_rank"]) for r in df.collect()
    )
    assert key(domain_quota(d, quota=8, prefilter_safety=0.01)) == key(
        domain_quota(d, quota=8)
    )


def test_domain_quota_small_domain_admits_all(spark):
    from hadoop_formats_spark.operators.quota import domain_quota

    rows = [(1, "a", "t"), (2, "a", "t"), (3, "b", "t")]
    d = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    out = domain_quota(d, quota=10, prefilter_safety=2.0).collect()
    assert len(out) == 3  # quota above domain size admits everything

def test_ivf_assign_gemm_matches_fold(spark, vectors):
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "centroid_id int, embedding array<double>",
    )
    key = lambda df: {  # noqa: E731
        r["vec_id"]: r["centroid_id"] for r in df.collect()
    }
    fold = key(S.ivf_assign(vectors, cents, method="fold"))
    gemm = key(S.ivf_assign(vectors, cents, method="gemm"))
    assert gemm == fold and len(fold) == 5


def test_ivf_topk_gemm_matches_fold(spark, vectors):
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "centroid_id int, embedding array<double>",
    )
    q = vectors.filter(F.col("vec_id") == 1)
    key = lambda df: [  # noqa: E731
        (r["query_id"], r["neighbor_id"], r["sim"], r["rnk"]) for r in df.collect()
    ]
    fold = key(S.ivf_topk(vectors, q, cents, k=2, method="fold"))
    gemm = key(S.ivf_topk(vectors, q, cents, k=2, method="gemm"))
    assert gemm == fold and fold


def test_chunk_dedup_drops_shared_spans(spark):
    from hadoop_formats_spark.operators.dedup import chunk_dedup

    docs = spark.createDataFrame(
        [
            # docs 1 and 2 share their first 3-word span ("a b c"); the
            # remainder of each is unique.
            (1, "a b c unique one here"),
            (2, "a b c other two there"),
            (3, "totally different words only"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in chunk_dedup(docs, chunk_words=3, max_doc_freq=2).collect()
    }
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 1
    assert out[2]["n_chunks"] == 2 and out[2]["n_kept"] == 1
    # doc 3 has 4 words -> spans "totally different words", "only"
    assert out[3]["n_chunks"] == 2 and out[3]["n_kept"] == 2
    import hashlib

    assert out[1]["kept_md5"] == hashlib.md5(b"unique one here").hexdigest()


def test_chunk_dedup_all_boilerplate_yields_empty_hash(spark):
    from hadoop_formats_spark.operators.dedup import chunk_dedup

    docs = spark.createDataFrame(
        [(1, "x y z"), (2, "x y z")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in chunk_dedup(docs, chunk_words=3, max_doc_freq=2).collect()
    }
    import hashlib

    empty = hashlib.md5(b"").hexdigest()
    for i in (1, 2):
        assert out[i]["n_kept"] == 0
        assert out[i]["kept_md5"] == empty


def test_chunk_dedup_short_tail_span(spark):
    """Last span may be shorter than chunk_words; it still rounds trip."""
    from hadoop_formats_spark.operators.dedup import chunk_dedup

    docs = spark.createDataFrame(
        [(1, "p q r s t")], "doc_id long, text string"
    )
    row = chunk_dedup(docs, chunk_words=3, max_doc_freq=2).collect()[0]
    assert row["n_chunks"] == 2 and row["n_kept"] == 2
    import hashlib

    assert row["kept_md5"] == hashlib.md5(b"p q r s t").hexdigest()


def test_cosine_pairs_group_col_blocks_cross_group(spark):
    """group_col restricts pairs to equal group values: three identical
    vectors, but one lives in another group — only the within-group
    pair survives."""
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], "a"),
            (2, [1.0, 0.0], "a"),
            (3, [1.0, 0.0], "b"),
        ],
        "vec_id bigint, embedding array<double>, grp string",
    )
    out = {
        (r["id_a"], r["id_b"])
        for r in S.cosine_near_dup_pairs(
            df, threshold=0.99, blocks=2, group_col="grp"
        ).collect()
    }
    assert out == {(1, 2)}


def test_semdedup_min_id_keeper_within_clusters(spark):
    """SemDeDup end-to-end on a two-cluster corpus: duplicates are
    removed per cluster, the lowest id survives, cross-cluster
    similarity is never consulted."""
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [1.0, 0.0]),      # dup of 0 → removed
            (3, [0.0, 1.0]),      # dup of 1 → removed
            (4, [0.9, 0.1]),      # near-dup of 0 (cos ≈ .9939) → removed
        ],
        "vec_id bigint, embedding array<double>",
    )
    rows = {r["vec_id"]: r for r in S.semdedup(df, k=2, iters=2, tau=0.95).collect()}
    assert len(rows) == 5
    assert {i for i, r in rows.items() if r["keep"]} == {0, 1}
    # both dup pairs landed in their own cluster
    assert rows[0]["cluster_id"] == rows[2]["cluster_id"] == rows[4]["cluster_id"]
    assert rows[1]["cluster_id"] == rows[3]["cluster_id"]
    assert rows[0]["cluster_id"] != rows[1]["cluster_id"]


def test_url_canonicalize_edge_cases(spark):
    from hadoop_formats_spark.functions import url as U

    cases = [
        # mixed case + default port + tracking + reorder + fragment
        ("HTTPS://WWW.Ex.COM:443/Page?b=2&utm_source=f&a=1#x",
         "https://www.ex.com/Page?a=1&b=2"),
        # non-default port kept; empty path → '/'
        ("http://ex.com:8080", "http://ex.com:8080/"),
        # http default port dropped; only tracking params → no query
        ("http://ex.com:80/p?gclid=z&utm_medium=m", "http://ex.com/p"),
        # path case and trailing slash preserved
        ("https://ex.com/A/B/", "https://ex.com/A/B/"),
        # '?' INSIDE the fragment is not a query (anchored extraction)
        ("https://ex.com/p#sec?x=1", "https://ex.com/p"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["c"] for r in df.select(U.canonicalize_url("url").alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_url_registrable_domain(spark):
    from hadoop_formats_spark.functions import url as U

    cases = [
        ("www.news.bbc.co.uk", "bbc.co.uk"),
        ("a.b.example.com", "example.com"),
        ("example.com", "example.com"),
        ("localhost", "localhost"),
        ("co.uk", "co.uk"),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "host string")
    got = [r["d"] for r in df.select(U.registrable_domain("host").alias("d")).collect()]
    assert got == [want for _, want in cases]


def test_semdedup_gemm_assign_matches_fold(spark):
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [1.0, 0.0]),
            (3, [0.0, 1.0]),
            (4, [0.9, 0.1]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    fold = sorted(
        map(
            tuple,
            S.semdedup(
                df, k=2, iters=2, tau=0.95, assign_method="fold"
            ).collect(),
        )
    )
    gemm = sorted(
        map(
            tuple,
            S.semdedup(
                df, k=2, iters=2, tau=0.95, assign_method="gemm"
            ).collect(),
        )
    )
    assert fold == gemm


def test_pmi_collocations_hand_computed(spark):
    """doc1 = 'a b a b', doc2 = 'a b c': N=7 tokens (a:3,b:3,c:1),
    M=5 adjacent pairs, c(a,b)=3 → pmi = ln((3/5)/((3/7)(3/7)))."""
    import math

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "doc_id long, text string"
    )
    out = T.pmi_collocations(docs, min_count=2, top_n=10).collect()
    assert [(r["w1"], r["w2"], r["n_pair"]) for r in out] == [("a", "b", 3)]
    want = round(math.log((3 / 5) / ((3 / 7) * (3 / 7))), 4)
    assert out[0]["pmi"] == want


def test_count_min_estimate_never_undercounts(spark):
    """CM guarantee: est >= exact for EVERY token; a deliberately tiny
    sketch (w=8) forces collisions so some estimate must overcount."""
    from hadoop_formats_spark.operators import sketch as SK

    rows = [(w,) for w in ("a b c a b a x y z q r s t u v w".split())]
    toks = spark.createDataFrame(rows, "tok string")
    sk = SK.count_min_sketch(toks, depth=2, width=8)
    exact = {r["tok"]: r["n"] for r in toks.groupBy("tok").agg(
        F.count("*").alias("n")).collect()}
    cand = toks.select("tok").distinct()
    est = {r["tok"]: r["cm_est"] for r in SK.cm_estimate(
        sk, cand, depth=2, width=8).collect()}
    assert set(est) == set(exact)
    assert all(est[t] >= exact[t] for t in exact)
    assert sum(est[t] - exact[t] for t in exact) > 0  # w=8 must collide


def test_hll_accuracy_and_merge(spark):
    """HLL at p=10 has ~3.2% standard error; require <10% on 5000
    distinct items (deterministic md5 hashing → stable result), exact
    passthrough intent on the linear-counting branch for tiny sets,
    and merged half-sketches == whole sketch (max is associative)."""
    from hadoop_formats_spark.operators import sketch as SK

    n = 5000
    items = spark.range(n).select(
        F.lit("g").alias("grp"), F.col("id").alias("item")
    )
    sk = SK.hll_sketch(items)
    est = SK.hll_estimate(sk).collect()[0]["hll_est"]
    assert abs(est / n - 1) < 0.10, est
    # register bound: at most 2^10 rows
    assert sk.count() <= 1024
    # merge: union halves + re-max == whole registers exactly
    ha = SK.hll_sketch(items.filter(F.col("item") % 2 == 0))
    hb = SK.hll_sketch(items.filter(F.col("item") % 2 == 1))
    merged = (
        ha.unionByName(hb)
        .groupBy("grp", "register")
        .agg(F.max("maxrank").alias("maxrank"))
    )
    whole = {(r["register"], r["maxrank"]) for r in sk.collect()}
    assert {(r["register"], r["maxrank"]) for r in merged.collect()} == whole
    # tiny set → linear-counting branch, still close (exact-ish)
    tiny = spark.range(10).select(F.lit("g").alias("grp"), F.col("id").alias("item"))
    e10 = SK.hll_estimate(SK.hll_sketch(tiny)).collect()[0]["hll_est"]
    assert abs(e10 - 10) < 1.0, e10


def test_count_min_absent_probe_returns_row(spark):
    """Probing a token outside the corpus must return a row, and a
    token whose cells were never incremented must estimate exactly 0
    (ADVICE r4: the old inner join dropped absent cells from the min
    and all-absent tokens from the output)."""
    from hadoop_formats_spark.operators import sketch as SK

    toks = spark.createDataFrame([("a",), ("a",), ("b",)], "tok string")
    # huge width: no collisions, so an unseen token's cells are all absent
    sk = SK.count_min_sketch(toks, depth=4, width=1 << 20)
    cand = spark.createDataFrame([("a",), ("zz_unseen",)], "tok string")
    est = {r["tok"]: r["cm_est"] for r in SK.cm_estimate(
        sk, cand, depth=4, width=1 << 20).collect()}
    assert est == {"a": 2, "zz_unseen": 0}


# ---------------------------------------------------------------------------
# sliding-window chunking (operators/packing.py round 4)
# ---------------------------------------------------------------------------


def test_chunk_tokens_coverage_and_overlap(spark):
    from hadoop_formats_spark.operators.packing import chunk_tokens

    text = " ".join(f"t{i}" for i in range(50))
    docs = spark.createDataFrame(
        [(1, text), (2, "a b c"), (3, " ".join(f"u{i}" for i in range(24)))],
        "doc_id bigint, text string",
    )
    out = chunk_tokens(docs, window=16, stride=12)
    rows = sorted(
        ((r.doc_id, r.chunk_id, tuple(r.chunk_toks), r.n_tokens) for r in out.collect())
    )
    by_doc = {}
    for d, c, t, n in rows:
        assert len(t) == n
        by_doc.setdefault(d, []).append((c, t))
    # doc 1: 50 tokens -> starts 0,12,24,36,48 -> 5 chunks? ceil((50-16)/12)=3 -> 4 chunks
    assert [c for c, _ in by_doc[1]] == [0, 1, 2, 3]
    # full coverage in order: chunk starts every 12 tokens
    alltoks = [f"t{i}" for i in range(50)]
    for c, t in by_doc[1]:
        assert list(t) == alltoks[c * 12 : c * 12 + 16]
    # neighbor overlap = window - stride = 4 tokens
    assert by_doc[1][0][1][-4:] == by_doc[1][1][1][:4]
    # short doc: single short chunk
    assert by_doc[2] == [(0, ("a", "b", "c"))]
    # 24 tokens -> ceil((24-16)/12)=1 extra -> 2 chunks; tail = tokens 12..23
    assert [c for c, _ in by_doc[3]] == [0, 1]
    assert len(by_doc[3][1][1]) == 12  # final short chunk


def test_chunk_tokens_is_map_only(spark, sf_dir):
    from hadoop_formats_spark import plans
    from hadoop_formats_spark.operators.packing import chunk_tokens

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = chunk_tokens(d)
    assert plans.shuffle_count(out) == 0


# ---------------------------------------------------------------------------
# BPE merge training (operators/bpe.py round 4)
# ---------------------------------------------------------------------------


def test_bpe_train_learns_expected_merges(spark):
    from hadoop_formats_spark.operators import bpe as B

    # "ab" appears in every word of the dominant token; hand-checkable
    docs = spark.createDataFrame(
        [(1, "abab abab abc"), (2, "abab xy")], "doc_id bigint, text string"
    )
    merges = B.bpe_train(docs, rounds=2)
    # pair (a,b): freq-weighted count = abab(3 words * 2 pairs) + abc(1) = 7
    assert merges[0]["left_sym"] == "a" and merges[0]["right_sym"] == "b"
    assert merges[0]["pair_n"] == 7
    # after merging 'ab': abab -> [ab, ab] (x3), abc -> [ab, c], xy -> [x, y]
    # pair counts: (ab,ab)=3, (ab,c)=1, (x,y)=1 -> winner (ab,ab)
    assert merges[1]["left_sym"] == "ab" and merges[1]["right_sym"] == "ab"
    assert merges[1]["pair_n"] == 3


def test_bpe_merge_fold_is_greedy_non_overlapping(spark):
    from pyspark.sql import functions as F

    from hadoop_formats_spark.operators import bpe as B

    df = spark.createDataFrame([("aaaa",), ("aaa",)], "w string")
    syms = F.array_join(F.array_remove(F.split(F.col("w"), ""), ""), B.SEP)
    out = df.select(
        B.merge_fold(syms, F.lit("a"), F.lit("a")).alias("m")
    ).collect()
    got = {tuple(r.m.split(B.SEP)) for r in out}
    # greedy left-to-right: aaaa -> (aa, aa); aaa -> (aa, a)
    assert got == {("aa", "aa"), ("aa", "a")}


def test_bpe_apply_merges_is_map_only_over_vocabulary(spark, sf_dir):
    from hadoop_formats_spark import plans
    from hadoop_formats_spark.operators import bpe as B

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = B.word_freqs(d)
    merged = B.apply_merges(
        corpus,
        [
            {"left_sym": "a", "right_sym": "b"},
            {"left_sym": "ab", "right_sym": "c"},
        ],
    )
    # one shuffle total: the word-frequency groupBy; the folds add none
    assert plans.shuffle_count(merged) == plans.shuffle_count(corpus) == 1
    assert plans.has_partial_aggregation(corpus)


# ---------------------------------------------------------------------------
# PageRank (operators/graph.py round 4)
# ---------------------------------------------------------------------------


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from hadoop_formats_spark.operators.graph import pagerank

    # small directed graph, every node has out-degree >= 1
    E = [(0, 1), (1, 2), (2, 0), (2, 1), (3, 2), (0, 3), (3, 0)]
    edges = spark.createDataFrame(E, "src bigint, dst bigint")
    got = {r.node: r.pr for r in pagerank(edges, iterations=4).collect()}

    n = 4
    out = np.zeros(n)
    for s, _ in E:
        out[s] += 1
    pr = np.full(n, 1.0 / n)
    for _ in range(4):
        nxt = np.full(n, 0.15 / n)
        for s, d in E:
            nxt[d] += 0.85 * pr[s] / out[s]
        pr = nxt
    for v in range(n):
        assert abs(got[v] - pr[v]) < 1e-12, (v, got[v], pr[v])


def test_pagerank_mass_is_conserved(spark):
    from pyspark.sql import functions as F

    from hadoop_formats_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 11) for i in range(11)] + [(5, 2), (7, 1)],
        "src bigint, dst bigint",
    )
    total = pagerank(edges, iterations=3).agg(F.sum("pr")).first()[0]
    assert abs(total - 1.0) < 1e-9


def test_pagerank_iteration_partial_aggregates(spark):
    from hadoop_formats_spark import plans
    from hadoop_formats_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i % 7, (i * 5) % 7) for i in range(30)], "src bigint, dst bigint"
    )
    pr = pagerank(edges, iterations=1)
    assert plans.has_partial_aggregation(pr)


def test_bloom_prefilter_prunes_and_never_drops_matches(spark):
    """Bloom semi-join reduction: no false negatives (every true match
    survives the prune — the correctness contract that makes the plain
    join a valid oracle), and real pruning (at m=8192/k=3 with a
    50-key build side, the FP rate is well under 5%)."""
    from pyspark.sql import functions as F

    from hadoop_formats_spark.operators.bloomjoin import (
        bloom_build,
        bloom_probe_filter,
    )

    build = spark.range(0, 50).select(F.col("id").alias("k"))
    probe = spark.range(0, 5000).select(F.col("id").alias("k"))
    bloom = bloom_build(build, "k", m=8192, k=3)
    pruned = bloom_probe_filter(probe, "k", bloom, m=8192, k=3)
    kept = {r.k for r in pruned.collect()}
    assert set(range(50)) <= kept          # no false negatives, ever
    assert len(kept) < 50 + 0.05 * 4950    # actually pruned (~fp<5%)


def test_bloom_prefilter_keeps_null_keys(spark):
    """NULL-key probe rows must survive the prune (ADVICE r6 #3): the
    bit test on md5(NULL) is indeterminate, and the contract is 'only
    remove rows that CANNOT match' — outer-join / null-safe-join
    callers need the rows preserved; inner equi-joins drop them anyway."""
    from pyspark.sql import functions as F

    from hadoop_formats_spark.operators.bloomjoin import (
        bloom_build,
        bloom_probe_filter,
    )

    build = spark.range(0, 10).select(F.col("id").alias("k"))
    probe = spark.createDataFrame(
        [(1,), (999,), (None,), (None,)], "k bigint"
    )
    bloom = bloom_build(build, "k", m=2048, k=3)
    kept = [r.k for r in bloom_probe_filter(probe, "k", bloom, m=2048, k=3).collect()]
    assert kept.count(None) == 2  # both NULL-key rows preserved
    assert 1 in kept


# ---------- linalg: distributed covariance / PCA ----------


def test_covariance_matrix_matches_numpy(spark):
    """The mapInPandas partial-Gram reduction must equal numpy's
    covariance bit-for-nearly-bit, regardless of partitioning."""
    import numpy as np

    from hadoop_formats_spark.operators.linalg import (
        covariance_matrix,
        pca_explained_variance,
    )

    rng = np.random.default_rng(7)
    d, n = 6, 400
    base = rng.normal(size=(n, 3))
    mix = rng.normal(size=(3, d))
    x = (base @ mix + 0.01 * rng.normal(size=(n, d))).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id bigint, embedding array<float>",
    ).repartition(7)

    got = covariance_matrix(df, "embedding", d, decimals=12).collect()
    c = np.zeros((d, d))
    for r in got:
        c[r.i, r.j] = c[r.j, r.i] = r.cov
    expect = np.cov(x.astype(np.float64), rowvar=False, bias=True)
    assert np.abs(c - expect).max() < 1e-9

    # spectrum: rank-3 structure -> top-3 explain ~everything, and the
    # driver-side eigh agrees with numpy eigh on the same matrix
    spec = pca_explained_variance(df, "embedding", d, k=d)
    ratios = [r for _, _, r in spec]
    assert abs(sum(ratios) - 1.0) < 1e-9
    assert sum(ratios[:3]) > 0.99
    ew = np.linalg.eigvalsh(expect)[::-1]
    for (comp, val, _), exp_val in zip(spec, ew):
        assert abs(val - exp_val) < 1e-6


def test_covariance_partition_invariance(spark):
    """Partial sums reduce to the SAME rounded matrix whether the data
    sits in 1 partition or many (the 1000-executor contract)."""
    import numpy as np

    from hadoop_formats_spark.operators.linalg import covariance_matrix

    rng = np.random.default_rng(11)
    x = rng.normal(size=(123, 4)).astype(np.float32)
    rows = [(i, [float(v) for v in r]) for i, r in enumerate(x)]
    schema = "vec_id bigint, embedding array<float>"
    one = spark.createDataFrame(rows, schema).coalesce(1)
    many = spark.createDataFrame(rows, schema).repartition(13)
    a = {(r.i, r.j): r.cov for r in covariance_matrix(one, "embedding", 4).collect()}
    b = {(r.i, r.j): r.cov for r in covariance_matrix(many, "embedding", 4).collect()}
    assert a == b


def test_bfs_distances_first_visit_pruning(spark):
    """Path-count explosion must not happen: a diamond graph reaches
    each node once at its true shortest distance, and unreachable
    nodes are absent."""
    from hadoop_formats_spark.operators.graph import bfs_distances

    #   1 -> 2 -> 4 -> 5,  1 -> 3 -> 4  (diamond), 9 isolated
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)], "a bigint, b bigint"
    )
    src = spark.createDataFrame([(1,)], "s bigint")
    got = {
        r.node: r.dist
        for r in bfs_distances(edges, src, max_hops=10).collect()
    }
    assert got == {1: 0, 2: 1, 3: 1, 4: 2, 5: 3}


def test_bfs_distances_hop_bound(spark):
    from hadoop_formats_spark.operators.graph import bfs_distances

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "a bigint, b bigint"
    )
    src = spark.createDataFrame([(0,)], "s bigint")
    got = {
        r.node: r.dist
        for r in bfs_distances(chain, src, max_hops=2).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2}  # bounded at 2 hops


def test_winnow_guarantee_and_density(spark):
    # Schleimer et al.'s guarantee: any shared token run of length
    # >= w + k - 1 (= 6 for k=3, w=4) yields a shared fingerprint
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"one two three {shared} four five six"),
        (2, f"seven eight {shared} nine ten eleven twelve"),
        (3, "completely different words with no overlap here at all"),
        (4, "tiny"),  # shorter than k+w-1 tokens: no full window
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    fp = D.winnow_fingerprints(docs, k=3, w=4)
    by_doc = {
        r.doc_id: set(r.hs)
        for r in fp.groupBy("doc_id").agg(
            F.collect_set("h").alias("hs")
        ).collect()
    }
    assert by_doc[1] & by_doc[2], "shared 6-token run must share a print"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    assert 4 not in by_doc  # too short for any full window
    # density: selections per doc are ~2/(w+1) of grams, never all
    n1_tokens = len(rows[0][1].split())
    assert 1 <= len(by_doc[1]) < n1_tokens - 2


def _wav_pcm(samples, *, bits=16, channels=1, rate=8000, fmt=1, pad_junk=False):
    import struct

    import numpy as np

    if bits == 16:
        arr = np.asarray(samples, dtype="<i2")
        data = arr.tobytes()
        block = 2 * channels
    else:
        arr = (np.asarray(samples, dtype=np.int64) + 128).astype(np.uint8)
        data = arr.tobytes()
        block = channels
    chunks = b"fmt " + struct.pack(
        "<IHHIIHH", 16, fmt, channels, rate, rate * block, block, bits
    )
    if pad_junk:  # odd-size chunk before data exercises even padding
        chunks += b"junk" + struct.pack("<I", 3) + b"abc\x00"
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_decode_wav_pure_numpy():
    import numpy as np

    # 16-bit mono
    mono, rate = M.decode_wav(_wav_pcm([0, 100, -200, 32767]))
    assert rate == 8000 and mono.tolist() == [0.0, 100.0, -200.0, 32767.0]
    # stereo averages to mono
    st, _ = M.decode_wav(_wav_pcm([10, 20, -30, 50], channels=2))
    assert st.tolist() == [15.0, 10.0]
    # 8-bit unsigned recentres onto the signed scale
    u8, _ = M.decode_wav(_wav_pcm([0, -128, 127], bits=8))
    assert u8.tolist() == [0.0, -128.0, 127.0]
    # odd-size chunk before data: even-byte padding honored
    padded, _ = M.decode_wav(_wav_pcm([1, 2], pad_junk=True))
    assert padded.tolist() == [1.0, 2.0]
    # rejections: bad magic, non-PCM format tag, unsupported depth,
    # truncated data chunk
    assert M.decode_wav(b"RIFX" + b"\x00" * 60) is None
    assert M.decode_wav(_wav_pcm([1, 2], fmt=3)) is None
    good = _wav_pcm([1, 2, 3, 4])
    assert M.decode_wav(good[:-3]) is None
    import struct

    bad_bits = bytearray(_wav_pcm([1, 2]))
    struct.pack_into("<H", bad_bits, 34, 24)  # bits field in fmt chunk
    assert M.decode_wav(bytes(bad_bits)) is None
