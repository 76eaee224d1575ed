"""Deduplication operators for training-data pipelines (SURVEY §2.3):
exact, MinHash+LSH near-dup, SimHash, n-gram Jaccard.

Design for 100 TB:

* everything is shuffle-friendly DataFrame code: the expensive step of
  near-dup detection is a self-join on *band keys* (MinHash LSH) or on
  *shingles* (inverted-index Jaccard), both of which shuffle on
  high-cardinality keys and never materialize the O(n²) pair space;
* hash functions are deterministic ``md5``-based (no seeded RNG), so
  results are reproducible across runs/engines and SQL-expressible for
  the DuckDB oracle — unlike ``pyspark.ml.feature.MinHashLSH`` whose
  coefficients are driver-seeded;
* all expressions are JVM-side Catalyst built-ins (codegen), no Python
  in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _parallelism(df: DataFrame) -> int:
    """Explicit shuffle partition count for compute-heavy stages: an
    unnumbered repartition() gets coalesced to ~1 task by AQE when the
    input is small on disk, serializing the (CPU-bound) shingle/md5
    work; a user-specified count is exempt from AQE coalescing."""
    return df.sparkSession.sparkContext.defaultParallelism


def _spread(df: DataFrame, key) -> DataFrame:
    """Repartition ONLY if the source is under-partitioned relative to
    the cluster.  The CPU-heavy shingle/hash stages are pure
    projections — they need enough input partitions, not a shuffle: at
    100 TB the scan already yields ~maxPartitionBytes-sized splits and
    this is a no-op; a full repartition there would shuffle the whole
    corpus for nothing.  Locally, a tiny parquet file arrives as one
    split and WOULD serialize the hash work on one core, so we spread
    it."""
    target = _parallelism(df)
    if df.rdd.getNumPartitions() >= max(2, target // 2):
        return df
    return df.repartition(target, key)


def exact_dedup(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact dedup: hash-groupBy keeping the lowest id per key group.
    (`dropDuplicates` is the built-in; this variant keeps a deterministic
    representative, which `dropDuplicates` does not guarantee.)"""
    key = F.md5(F.concat_ws("\x00", *cols)).alias("dup_key")
    return df.select(key, *df.columns).groupBy("dup_key").agg(
        F.min(F.struct(*df.columns)).alias("keeper"),
        F.count("*").alias("n_copies"),
    ).select("dup_key", "keeper.*", "n_copies")


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of lowercased text."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.lower(c), " ")
    # shingle i = tokens[i..i+n-1] joined by space, for i in 1..size-n+1
    # (guard: Spark sequence(1, 0) would count DOWN, so gate on size >= n)
    return F.when(F.size(toks) >= n, F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )).otherwise(F.array().cast("array<string>"))


def shingled_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc_id, shingles) with the per-doc distinct shingle arrays
    materialized ONCE (spread + lazy localCheckpoint) for pipelines
    that consume shingles in more than one subtree — Catalyst
    re-expands DataFrame self-references, so e.g. the LSH row's
    signature pipeline and its verify join each re-ran the whole
    tokenize+shingle computation (r17: sharing measured 1.33 → 1.00 s
    median on dedup_minhash_lsh, rows identical).  The checkpoint is
    within one query execution — not cross-run caching — and trades
    executor-local storage (disk-backed) for the repeated interpreted
    shingling CPU; at corpus scale that is the right trade exactly
    when the arrays are consumed 2+ times, which is the only reason to
    call this helper.  Pass the SAME ``shingle_n`` to every consumer."""
    return (
        _spread(docs, F.col(id_col))
        .select(
            F.col(id_col).alias("doc_id"),
            word_shingles(text_col, shingle_n).alias("shingles"),
        )
        .localCheckpoint(eager=False)
    )


def minhash_hash_concat(shingles: Column, num_hashes: int) -> Column:
    """Per-shingle hash material: the concatenation of ceil(n/4) md5
    digests (salted '0:', '1:', …), computed ONCE per shingle.  Each
    32-hex digest yields four 8-hex slice hashes — 4× less hashing
    than one md5 per signature position, and slices of independent
    digests behave as independent hashes for MinHash purposes."""
    n_digests = (num_hashes + 3) // 4

    def per_shingle(s: Column) -> Column:
        return F.concat(
            *[F.md5(F.concat(F.lit(f"{d}:"), s)) for d in range(n_digests)]
        )

    return F.transform(shingles, per_shingle)


def minhash_signatures(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int,
    shingle_n: int,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, h0..h{n-1}) MinHash signatures.

    Explode the RAW shingles, then ``min`` aggregates per signature
    position over md5-slice values computed in the aggregate's input
    projection.  The explode is load-bearing: a projection-only
    formulation (array_min over 8 transforms of a shared hash column)
    gets CollapseProject'd so the md5 pipeline inlines into — and
    re-executes for — every signature position (measured 5× slower).
    r17: the digests moved from ``minhash_hash_concat`` (md5+concat
    inside an INTERPRETED higher-order ``transform`` over the shingle
    array) into the flat post-explode projection, where whole-stage
    codegen evaluates them with common-subexpression elimination —
    each digest md5 still runs exactly once per (doc, shingle), now
    compiled (measured 1.50 → 1.36 s median interleaved at sf0.1 on
    the headline LSH row).  The 8 mins partial-aggregate map-side, so
    the one shuffle carries ~80 bytes/doc regardless of corpus size.

    ``shingled`` (a :func:`shingled_docs` frame with a matching
    ``shingle_n``) feeds the explode from the shared materialization
    instead of re-shingling — for pipelines whose other subtrees also
    consume the shingles."""
    if shingled is not None:
        hashed = shingled.select(
            "doc_id", F.explode("shingles").alias("sh")
        )
    else:
        hashed = _spread(docs, F.col(id_col)).select(
            F.col(id_col).alias("doc_id"),
            F.explode(word_shingles(text_col, shingle_n)).alias("sh"),
        )
    # same salted-digest family as minhash_hash_concat: digest d =
    # md5('{d}:' || shingle), positions j are its 8-hex slices
    digests = [
        F.md5(F.concat(F.lit(f"{d}:"), F.col("sh")))
        for d in range((num_hashes + 3) // 4)
    ]
    # r16: fold each position as a NUMERIC min and re-format to the
    # identical 8-hex string after the aggregate.  A string min has no
    # mutable buffer, so Spark plans SortAggregate — sorting the whole
    # exploded (doc, shingle) table by doc_id before aggregating; the
    # long min is a codegen'd HashAggregate (plan diff: SortAggregate
    # pair -> HashAggregate pair).  Equivalence: fixed-width lowercase
    # hex compares byte-wise exactly like its numeric value, and
    # lpad(lower(hex(v)), 8) is the inverse of conv(hex, 16, 10) on
    # 32-bit slices, so h0..h{n-1} are bit-identical to the string fold
    # (pinned by tests and every banded oracle).
    mins = hashed.groupBy("doc_id").agg(
        *[
            F.min(
                F.conv(
                    F.substring(digests[j // 4], (j % 4) * 8 + 1, 8), 16, 10
                ).cast("long")
            ).alias(f"v{j}")
            for j in range(num_hashes)
        ]
    )
    return mins.select(
        "doc_id",
        *[
            F.lpad(F.lower(F.hex(F.col(f"v{j}"))), 8, "0").alias(f"h{j}")
            for j in range(num_hashes)
        ],
    )


def band_bucket_pairs(
    banded: DataFrame,
    *,
    band_id_col: str = "band_id",
    band_key_col: str = "band_key",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
    dropped_out: list | None = None,
) -> DataFrame:
    """(doc_a, doc_b) distinct candidate pairs from banded LSH rows —
    the shared tail of every banding scheme (MinHash bands over text,
    sign-LSH bands over embeddings).

    One groupBy per band bucket, pairs expanded inside the collected
    array — computes the upstream signature pipeline ONCE (a self-join
    would recompute it per side) and shuffles only (band, id) rows.
    Buckets are near-dup groups, so arrays stay small by construction —
    EXCEPT the degenerate hot bucket (boilerplate/constant text ⇒ a
    whole corpus slice collides in one band), whose pair expansion is
    quadratic in the bucket.  ``max_bucket_size`` caps that failure
    mode, mirroring ``shingle_jaccard_pairs``'s ``max_doc_freq``:
    buckets above the cap are dropped from candidate generation (their
    members can still pair through their other, more selective bands).
    Pass ``dropped_out`` (a list) to receive a LAZY DataFrame
    (band_id, band_key, bucket_size) of the dropped buckets so
    pipelines can count/log what the cap discarded — an eager count
    here would force the whole upstream pipeline twice.

    The final pair-level distinct stays UNCONDITIONAL (r16 probe): a
    skip-it variant for verify-style consumers (whose pair-keyed
    groupBy dedups anyway) re-shingled every band-collision duplicate
    in the verify join and measured +0.4s at sf0.1 — the exchange is
    cheaper than the duplicated work it prevents."""
    buckets = (
        banded.groupBy(band_id_col, band_key_col)
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket_size is not None:
        if dropped_out is not None:
            dropped_out.append(
                buckets.filter(F.size("ids") > max_bucket_size).select(
                    band_id_col,
                    band_key_col,
                    F.size("ids").alias("bucket_size"),
                )
            )
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                        lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select("p.doc_a", "p.doc_b").distinct()


def minhash_band_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
    dropped_out: list | None = None,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 MinHash band.

    shingle → minhash → band → bucket-join: the join key is
    (band_id, band_key), so the shuffle is by band bucket and the pair
    space never materializes globally.  ``max_bucket_size`` /
    ``dropped_out`` pass through to ``band_bucket_pairs`` (hot-bucket
    cap).  Returns (doc_a, doc_b) distinct.
    """
    rows = num_hashes // bands
    # explode-then-min-aggregate signatures (see minhash_signatures for
    # why NOT a pure projection); docs too short to shingle drop out
    # naturally (explode of an empty array emits no rows)
    sigs = minhash_signatures(
        docs,
        id_col,
        text_col,
        num_hashes=num_hashes,
        shingle_n=shingle_n,
        shingled=shingled,
    )
    # one posexplode pass instead of a bands-way union (single scan of sigs)
    band_keys = F.array(
        *[
            F.concat_ws(
                "|", *[F.col(f"h{b * rows + r}") for r in range(rows)]
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select(
        "doc_id", F.posexplode(band_keys).alias("band_id", "band_key")
    )
    return band_bucket_pairs(
        banded, max_bucket_size=max_bucket_size, dropped_out=dropped_out
    )


def shingle_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_n: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    max_doc_freq: int | None = None,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs via shingle inverted index.

    Pairs are generated by joining on shingle (never a cross join); with
    ``candidates`` given (e.g. from MinHash LSH) only those pairs are
    verified.  ``max_doc_freq`` caps the inverted index's failure mode
    at corpus scale — a HOT shingle (boilerplate shared by millions of
    docs) makes the pair join quadratic on one key — by dropping
    posting lists longer than the cap from *candidate generation only*:
    surviving candidates are still verified with the exact Jaccard over
    their FULL shingle sets, so reported values are never estimates and
    the only loss is pairs whose every shared shingle is hot (a ≥0.8
    near-dup pair essentially always shares rare shingles).  Returns
    (doc_a, doc_b, jaccard) with jaccard ≥ threshold, rounded to 3
    decimals.
    """
    if candidates is not None:
        # verify path: explode each candidate pair into its two sides,
        # join ONCE against the docs to pick up shingle arrays (the join
        # doubles as the only-shingle-what-you-verify filter), then
        # regroup per pair and intersect in place.  Each plan input is
        # referenced exactly once — a sides-as-two-aliases formulation
        # would inline the whole candidate pipeline once per side — and
        # the shuffles are O(|candidate sides|), never the
        # inverted-index pair space.
        sides = candidates.select(
            "doc_a",
            "doc_b",
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id"),
        )
        # _spread: shingling is the CPU-heavy side of the verify join —
        # without it an under-partitioned source (one small parquet
        # file) serializes the whole shingle computation on one core.
        # Shingles are deliberately computed BELOW the join, once per
        # doc with the _spread parallelism — an above-the-join
        # projection re-shingles every matched side-row on the
        # (AQE-coalesced, tiny) candidate side instead, measured +0.4s
        # at sf0.1 (r16 probe; both variants tried).  A caller-shared
        # shingled_docs frame replaces the re-shingle outright (r17).
        doc_shingles = (
            shingled
            if shingled is not None
            else _spread(docs, F.col(id_col)).select(
                F.col(id_col).alias("doc_id"),
                word_shingles(text_col, shingle_n).alias("shingles"),
            )
        )
        joined = sides.join(doc_shingles, "doc_id")
        first_match = lambda side: F.first(  # noqa: E731
            F.when(F.col("doc_id") == F.col(side), F.col("shingles")),
            ignorenulls=True,
        )
        paired = joined.groupBy("doc_a", "doc_b").agg(
            first_match("doc_a").alias("sh_a"),
            first_match("doc_b").alias("sh_b"),
        )
        n_inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        return paired.select(
            "doc_a",
            "doc_b",
            F.round(
                n_inter / (F.size("sh_a") + F.size("sh_b") - n_inter), 3
            ).alias("jaccard"),
        ).filter(F.col("jaccard") >= threshold)

    # exhaustive path (ground truth): shingle inverted-index self-join —
    # pairs are generated only for docs sharing a shingle, never a cross
    # join; shuffles on the high-cardinality shingle key.  (A shared
    # shingled_docs frame feeds the explode when given; the .distinct()
    # stays — it is the exchange the self-join branches reuse.)
    if shingled is not None:
        index = shingled.select(
            "doc_id", F.explode("shingles").alias("shingle")
        ).distinct()
    else:
        index = _spread(docs, F.col(id_col)).select(
            F.col(id_col).alias("doc_id"),
            F.explode(word_shingles(text_col, shingle_n)).alias("shingle"),
        ).distinct()
    if max_doc_freq is not None:
        # capped candidate generation: anti-join the hot posting lists
        # out of the index, pair the survivors, then take the exact
        # full-set verify path above for those candidates.
        hot = (
            index.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("shingle")
        )
        capped = index.join(hot, "shingle", "left_anti")
        a, b = capped.alias("a"), capped.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        return shingle_jaccard_pairs(
            docs,
            id_col,
            text_col,
            shingle_n=shingle_n,
            threshold=threshold,
            candidates=cand,
            shingled=shingled,
        )
    sizes = index.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = index.alias("a")
    b = index.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 3
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT Jaccard-threshold similarity join via prefix filtering —
    the AllPairs/PPJoin family (Bayardo et al., WWW'07; Xiao et al.,
    WWW'08), the deterministic counterpart to MinHash-LSH banding.

    Under any global total order on tokens, if ``J(a,b) >= t`` then the
    globally-smallest token of ``a ∩ b`` lies within the first
    ``|x| - ceil(t·|x|) + 1`` tokens of BOTH sets (were it later in
    ``x``, fewer than ``ceil(t·|x|) <= |a ∩ b|`` slots would remain
    after it).  So indexing only those *prefixes* — ordered by
    ascending document frequency, rarest tokens first — finds every
    qualifying pair, while hot boilerplate shingles land at the END of
    each doc's ordering and mostly fall outside every prefix: the
    inverted-index join that is quadratic-per-hot-key in the exhaustive
    formulation shrinks to rare-token posting lists, with NO loss
    (unlike ``max_doc_freq`` capping, which trades recall).  A length
    filter (``t·|a| <= |b| <= |a|/t``, also implied by ``J >= t``)
    prunes candidates inside the join condition before the shuffle
    output materializes.

    Scale shape: shuffle on shingle (df count), shuffle on doc_id (two
    keyed windows share one sort), the prefix self-join on rare
    shingles, then the O(|candidates|) verify join of
    :func:`shingle_jaccard_pairs` — never a cross join, never an
    estimate.  Candidates are generated at a threshold half an ulp (of
    the 3-decimal rounding) below ``t`` so the rounded verify filter
    ``round(J, 3) >= t`` keeps exactly the oracle's pair set.

    Returns (doc_a, doc_b, jaccard) with ``round(jaccard, 3) >=
    threshold``.
    """
    from pyspark.sql import Window

    # verify filters on round(J, 3) >= threshold, so candidate
    # generation must be complete for true J >= threshold - 0.0005
    t = threshold - 0.5e-3
    # NO shingled_docs sharing (r17 probe): the shared checkpoint
    # measured 1.43 -> 1.81 s here — the ranked-window stage consumes
    # tok once and the verify join is small, so the materialization
    # costs more than the one re-shingle it saves
    tok = _spread(docs, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"),
        # word_shingles is array_distinct — rows are unique (doc, shingle)
        F.explode(word_shingles(text_col, shingle_n)).alias("shingle"),
    )
    df_tbl = tok.groupBy("shingle").agg(F.count("*").alias("df"))
    w_pos = Window.partitionBy("doc_id").orderBy("df", "shingle")
    w_all = Window.partitionBy("doc_id")
    ranked = (
        tok.join(df_tbl, "shingle")
        .select(
            "doc_id",
            "shingle",
            F.row_number().over(w_pos).alias("pos"),
            F.count("*").over(w_all).alias("sz"),
        )
    )
    # ceil/>= guards: round(t*sz, 9) strips float noise before the
    # boundary test — when t*sz is mathematically integral, binary
    # error (0.4995*2000 -> 999.0000000000001) would otherwise bump
    # ceil by one and shorten the prefix below the provable bound
    # (ADVICE r6 #4); 1e-9 is far above double ulp at these magnitudes
    # and far below the half-ulp-of-0.001 candidate slack in t.
    prefix = ranked.filter(
        F.col("pos")
        <= F.col("sz") - F.ceil(F.round(F.lit(t) * F.col("sz"), 9)) + 1
    ).select("doc_id", "shingle", "sz")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.least("a.sz", "b.sz")
                >= F.round(F.lit(t) * F.greatest("a.sz", "b.sz"), 9)
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return shingle_jaccard_pairs(
        docs,
        id_col,
        text_col,
        shingle_n=shingle_n,
        threshold=threshold,
        candidates=cand,
    )


def minhash_band_precision_recall(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
    sample_fraction: float | None = None,
    sample_salt: str = "bandpr:",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """One-row precision/recall of the MinHash LSH band stage against
    the EXACT Jaccard≥threshold ground truth — the honest-measurement
    companion to :func:`minhash_band_pairs`.

    Measure-on-a-sample contract (VERDICT r4 #7): exact ground truth is
    inherently quadratic per hot shingle, so at corpus scale run this on
    a sample — ``sample_fraction`` keeps a deterministic md5-hash slice
    of the documents (no seed state, reproducible across runs and
    engines), and/or ``max_doc_freq`` caps the truth side's posting
    lists.  Both band candidates and ground truth are computed on the
    SAME sampled sub-corpus, so the measured P/R is meaningful for the
    band configuration.  Defaults (no sampling, no cap) are exact —
    fine at test scale, deliberate choice at corpus scale.

    Returns one row: (n_candidates, n_true, n_tp, precision, recall).
    """
    if sample_fraction is not None:
        keep = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(sample_salt), F.col(id_col).cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 1_000_000
        ) < int(sample_fraction * 1_000_000)
        docs = docs.filter(keep)
    # no shingled_docs sharing (r17 probe): band candidates + truth
    # measured a WASH shared vs recomputed (best 2.80 vs 2.18, medians
    # equal) — the truth side's self-join dominates and its exchanges
    # already reuse; the checkpoint adds storage for nothing
    cand = minhash_band_pairs(
        docs, id_col, text_col, num_hashes=num_hashes, bands=bands, shingle_n=shingle_n
    )
    truth = shingle_jaccard_pairs(
        docs,
        id_col,
        text_col,
        shingle_n=shingle_n,
        threshold=threshold,
        max_doc_freq=max_doc_freq,
    ).select("doc_a", "doc_b")
    tp = cand.join(truth, ["doc_a", "doc_b"])
    nc = cand.agg(F.count("*").alias("n_candidates"))
    nt = truth.agg(F.count("*").alias("n_true"))
    ntp = tp.agg(F.count("*").alias("n_tp"))
    return (
        nc.crossJoin(nt)
        .crossJoin(ntp)
        .select(
            "n_candidates",
            "n_true",
            "n_tp",
            F.round(
                F.col("n_tp") / F.greatest(F.col("n_candidates"), F.lit(1)), 6
            ).alias("precision"),
            F.round(
                F.col("n_tp") / F.greatest(F.col("n_true"), F.lit(1)), 6
            ).alias("recall"),
        )
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    *,
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(doc_id, group_id) — connected components over undirected dup
    pairs: the step that turns pairwise near-dup hits into dedup GROUPS
    (keep one doc per group).  group_id = smallest doc id in the
    component.

    Iterative min-label propagation: each round, every node takes the
    min of its own label and its neighbors' labels; rounds needed =
    component diameter, which for near-dup clusters is tiny.  Each
    round is one join + one aggregate (both shuffle on node id, so at
    scale consecutive rounds reuse the same hash partitioning).
    Lineage is truncated every round: with ``checkpoint_dir`` set, via
    RELIABLE checkpoints written there (survives executor loss — what a
    real cluster run wants; any Hadoop-compatible path works); without
    it, via ``localCheckpoint`` (blocks live only on executors — fine
    on local[N], where executor loss means the app died anyway)."""
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _ckpt(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            # reliable checkpoints have no lazy variant: eager=True is
            # fine because every round's result is consumed immediately
            # by the convergence-sum action below.
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=False)

    sym = pairs.select(
        F.col(a_col).cast("long").alias("src"), F.col(b_col).cast("long").alias("dst")
    )
    sym = _ckpt(
        sym.union(
            sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    )
    labels = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("label")
    )
    # Per-round cost model: rounds are cheap in DATA (labels are one
    # row per node) but expensive in JOBS — at low SF the fixed
    # job/stage overhead dominates, at 100 TB the shuffles do, and both
    # prefer fewer rounds.  Two levers, both exact:
    #
    # * batch TWO propagation hops into each materialized round (same
    #   total shuffle work per hop, half the job/checkpoint/convergence
    #   overhead; converged hops are no-ops, so overshoot is harmless);
    # * convergence detected IN-ROUND (r17): the second hop carries the
    #   first hop's label alongside its own, and the round's one action
    #   counts rows where they differ.  _hop is deterministic and
    #   monotone, so "hop 2 changed nothing" means the labels are a
    #   fixed point of _hop — converged — with no confirming round
    #   needed.  (The r16 shape compared the label SUM against the
    #   previous round's, which can only OBSERVE a stall one round
    #   late: near-dup components are mostly stars that converge in one
    #   hop, so that design always paid a second join round purely to
    #   re-observe the stall.)  Each round stays exactly ONE Spark job:
    #   the change-count agg is the action that materializes the lazy
    #   checkpoint.
    def _hop(lab: DataFrame, keep: tuple = ()) -> DataFrame:
        nbr = (
            sym.join(
                lab.select(
                    F.col("src").alias("dst"), F.col("label").alias("dst_label")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_label").alias("nbr_label"))
        )
        return lab.join(nbr, "src", "left").select(
            "src",
            *keep,
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias(
                "label"
            ),
        )

    # the budget in ROUNDS covers max_iter propagation hops; no
    # confirming round is reserved because convergence is detected
    # inside the round that reaches it (hop-2 no-op == fixed point)
    n_rounds = (max_iter + 1) // 2 + 1
    for _ in range(n_rounds):
        h1 = _hop(labels).withColumn("prev", F.col("label"))
        new_labels = _ckpt(_hop(h1, keep=("prev",)))
        row = new_labels.agg(
            F.count("*").alias("n"),
            F.sum((F.col("label") != F.col("prev")).cast("long")).alias(
                "chg"
            ),
        ).collect()[0]
        labels = new_labels.select("src", "label")
        if row["n"] == 0:
            break  # empty edge set: no labels, trivially converged
        if row["chg"] == 0:
            break  # hop 2 was a no-op ⇒ fixed point of _hop
    else:
        # Exhausted the budget without a confirmed stall: the labels
        # are partial (a component wider than the hop budget still
        # carries several labels).  Dedup built on them would
        # under-merge, so refuse to hand them out silently.
        raise RuntimeError(
            f"connected_components did not converge within "
            f"{n_rounds} double-hop rounds ({n_rounds * 2} propagation "
            f"hops, from max_iter={max_iter}; labels still changing "
            "in the final round); raise max_iter for graphs with "
            "long chains"
        )
    return labels.select(
        F.col("src").alias("doc_id"), F.col("label").alias("group_id")
    )


def simhash32(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash) — 32-bit SimHash as a 32-char bit string.

    Per token: md5 hex; bit i = high bit of hex nibble i (deterministic,
    engine-portable).  Document bit i = sign of the token-count-weighted
    sum of (±1).  Returned as a bit string so the oracle can compare
    without 64-bit signed arithmetic.

    Shaped as explode + 32 conditional-sum aggregates for the same
    reason as ``minhash_signatures``: a projection building 32 bits
    from a shared token-hash array gets CollapseProject'd into 32
    re-executions of the md5 pipeline.  Here each token is hashed once
    in the Generate stage and the sums partial-aggregate map-side."""
    hashed = (
        _spread(docs, F.col(id_col))
        .select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("tok"),
        )
        .select(F.col(id_col), F.md5("tok").alias("th"))
    )
    high = ("8", "9", "a", "b", "c", "d", "e", "f")
    sums = [
        F.sum(
            F.when(F.substring("th", i, 1).isin(*high), 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(1, 33)
    ]
    agg = hashed.groupBy(id_col).agg(*sums)
    bits = [
        F.when(F.col(f"b{i}") > 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(1, 33)
    ]
    return agg.select(F.col(id_col), F.concat(*bits).alias("simhash"))


def contamination_overlap(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_n: int = 5,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Per-train-document benchmark contamination: the fraction of the
    document's distinct word ``shingle_n``-grams that appear anywhere
    in the benchmark corpus — the standard train/eval overlap check a
    pretraining pipeline runs before training.

    Shape: inverted-index join on the shingle key (never a cross
    join).  The benchmark side is reduced to its DISTINCT shingle set
    and, with ``broadcast_bench=True`` (default), broadcast — eval
    suites are tiny relative to a 100 TB train corpus, so every
    executor holds the bench set and the train corpus is never
    shuffled.  If the bench corpus outgrows broadcast, pass
    ``broadcast_bench=False`` and the SAME plan degrades to a shuffle
    join on the shingle key instead of a broadcast OOM.  Returns
    (doc_id, n_shingles, n_contaminated, contamination_frac) for every
    train doc that has at least one shingle."""
    tr = _spread(train, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(text_col, shingle_n)).alias("shingle"),
    )
    be = (
        bench.select(
            F.explode(word_shingles(text_col, shingle_n)).alias("shingle")
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    if broadcast_bench:
        be = F.broadcast(be)
    return (
        tr.join(be, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias(
                "n_contaminated"
            ),
        )
        .withColumn(
            "contamination_frac",
            F.round(F.col("n_contaminated") / F.col("n_shingles"), 4),
        )
    )


def chunk_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    chunk_words: int = 3,
    max_doc_freq: int = 2,
) -> DataFrame:
    """Span-level boilerplate removal (the line-level dedup of
    CCNet/RefinedWeb, adapted to single-line corpora): cut each document
    into consecutive ``chunk_words``-word spans, count each span's
    document frequency corpus-wide, and drop spans appearing in
    ``max_doc_freq`` or more documents (headers, footers, templated
    text).  Returns one row per document:
    ``(id, n_chunks, n_kept, kept_md5)`` where ``kept_md5`` is the md5
    of the surviving spans re-joined in order ('' → md5 of empty
    string when every span is boilerplate).

    100 TB design: chunking is a pure map-side array fold (split +
    ``transform``/``slice`` — no explode until the span rows are
    needed); the only corpus-wide exchanges are a partial-aggregated
    groupBy on the high-cardinality span key (doc frequency) and the
    doc-keyed reassembly.  The span→count join shuffles on the span
    key, which is near-unique — no skew.  A degenerate span that
    appears everywhere ("the") costs one hot reduce key at bounded
    width (count only), never a pair blow-up: unlike pair-generating
    LSH, frequency counting is linear.

    The reference has no corpus-wide operator at all (it is a per-file
    decoder, src/Data/Hadoop/SequenceFile.hs:45-50); this is part of
    the mandated curation extension surface.
    """
    words = F.split(F.lower(F.col(text_col)), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(chunk_words)).cast("int")
    # sequence(0, -1) yields a DESCENDING ramp in Spark, not an empty
    # array — guard the empty-document case explicitly.
    chunks = F.when(
        F.size(words) > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - F.lit(1)),
            lambda i: F.concat_ws(
                " ", F.slice(words, i * chunk_words + F.lit(1), chunk_words)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = _spread(docs, F.col(id_col)).select(
        F.col(id_col), F.posexplode(chunks).alias("pos", "chunk")
    )
    doc_freq = exploded.groupBy("chunk").agg(
        F.countDistinct(id_col).alias("chunk_df")
    )
    keep = F.col("chunk_df") < F.lit(max_doc_freq)
    return (
        exploded.join(doc_freq, "chunk")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(keep.cast("long")).alias("n_kept"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(keep, F.struct("pos", "chunk"))
                            )
                        ),
                        lambda s: s["chunk"],
                    ),
                )
            ).alias("kept_md5"),
        )
    )


def substring_span_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    window: int = 8,
    min_doc_freq: int = 2,
) -> DataFrame:
    """Exact duplicated-substring profile over SLIDING token windows
    (the token-window adaptation of suffix-array substring dedup, Lee
    et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499): every consecutive ``window``-token
    span of every document is hashed; a span whose corpus-wide document
    frequency reaches ``min_doc_freq`` marks a duplicated region.
    Returns one row per document (with >= ``window`` tokens):
    ``(id, n_spans, n_dup_spans)`` — ``n_dup_spans / n_spans`` is the
    duplicated-text fraction used to cut or trim documents.

    Unlike ``chunk_dedup`` (non-overlapping spans), sliding windows
    catch duplicated passages at ANY offset — the property that makes
    substring dedup effective against quoted/near-boilerplate text.

    100 TB design: span hashing is a pure map-side array fold (split →
    ``transform`` over a ``sequence`` ramp → md5) — the corpus never
    explodes until the span rows feed the doc-frequency aggregate.
    Two exchanges total: a partial-aggregated groupBy on the span hash
    (near-unique key, no skew) and the hash-keyed join back, which is
    1:1 per (doc, pos) row — frequency counting is linear, never the
    O(n²) pair space a suffix array's pairwise merge would imply.  A
    ubiquitous boilerplate span costs one hot reduce key at bounded
    width (a count), and the join back fans out only to the docs that
    contain it — exactly the rows that must be marked anyway.
    """
    toks = F.split(F.lower(F.col(text_col)), " ")
    spans = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(window - 1)),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, window))),
    )
    exploded = (
        _spread(docs.filter(F.size(toks) >= window), F.col(id_col))
        .select(F.col(id_col), F.explode(spans).alias("h"))
    )
    doc_freq = exploded.groupBy("h").agg(
        F.countDistinct(id_col).alias("span_df")
    )
    return (
        exploded.join(doc_freq, "h")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(
                (F.col("span_df") >= min_doc_freq).cast("long")
            ).alias("n_dup_spans"),
        )
    )


def shingle_containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_n: int = 3,
    threshold: float = 0.85,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup pairs: C(A,B) = |A∩B| /
    min(|A|, |B|) over shingle sets — excerpt/quote detection.  A
    short document embedded verbatim in a longer one has LOW Jaccard
    (the union is dominated by the long doc) but containment ≈ 1, so
    Jaccard-thresholded dedup systematically misses exactly the
    quote/excerpt duplication this operator exists to find (Broder
    1997 distinguishes resemblance from containment for this reason).

    Same inverted-index shape as ``shingle_jaccard_pairs``' exhaustive
    path — pairs generated only for docs sharing a shingle, never a
    cross join; one shuffle on the shingle key, one pair groupBy, two
    size joins.  Returns ``(doc_a, doc_b, containment, jaccard)`` with
    containment ≥ threshold, both rounded to 3 decimals.

    ``max_doc_freq`` drops hot posting lists (boilerplate shared by
    millions of docs) before pairing — the same quadratic-key cap as
    the Jaccard/contamination family; with it set, shared counts
    exclude hot shingles, so reported metrics are lower bounds (the
    registered query runs uncapped to stay oracle-exact; at corpus
    scale set the cap).
    """
    shingled = (
        _spread(docs, F.col(id_col))
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(word_shingles(text_col, shingle_n)).alias("shingle"),
        )
        .distinct()
    )
    if max_doc_freq is not None:
        hot = (
            shingled.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("shingle")
        )
        shingled = shingled.join(hot, "shingle", "left_anti")
    sizes = shingled.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = shingled.alias("a")
    b = shingled.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter") / F.least(F.col("na"), F.col("nb")), 3
            ).alias("containment"),
            F.round(
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                3,
            ).alias("jaccard"),
        )
        .filter(F.col("containment") >= threshold)
    )


def winnow_fingerprints(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-token gram, slide a
    w-gram window, and SELECT THE MINIMUM hash per window — the
    selected set is a position-robust local fingerprint with density
    ~2/(w+1) and the guarantee that any shared substring of at least
    w + k - 1 tokens yields at least one shared fingerprint (the
    property plain rolling/whole-doc hashes lack, and MinHash only
    gives globally).  Returns DISTINCT (doc_id, h) selected-hash rows.

    Engine determinism: grams hash via the house md5-prefix integer
    (no seeded RNG), and the window-min runs over the ENCODED key
    h * 2^20 + gram_pos so ties break at the leftmost position
    identically everywhere (positions stay < 2^20; ~1e6 tokens per
    doc, far beyond the corpus).  Distinct-ing the encoded key first
    implements winnowing's "record each selection once per
    occurrence" rule exactly.

    100 TB shape: tokenize/gram/hash are map-side over one doc_id
    shuffle (the per-doc windows); downstream consumers join on the
    fingerprint hash — an inverted index, never all-pairs."""
    from pyspark.sql import Window

    norm = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    )
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(norm, " ")).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    gram_parts = [F.col("tok")] + [
        F.lead("tok", j).over(wdoc) for j in range(1, k)
    ]
    grams = toks.select(
        "doc_id",
        "pos",
        F.concat_ws(" ", *gram_parts).alias("gram"),
        F.lead("tok", k - 1).over(wdoc).isNotNull().alias("full"),
    )
    # The encoded tie-break key reserves the low 20 bits for gram_pos;
    # a doc with >= 2^20 grams (~1M tokens) would silently bleed pos
    # bits into the hash and corrupt fingerprints (ADVICE r13).  Fail
    # loudly instead: any out-of-range pos raises at execution time.
    guarded_pos = F.when(F.col("pos") < 1048576, F.col("pos")).otherwise(
        F.raise_error(
            F.concat(
                F.lit("winnow_fingerprints: doc "),
                F.col("doc_id").cast("string"),
                F.lit(" exceeds 2^20 grams; encoded window-min key "
                      "would overflow — chunk the document first"),
            )
        ).cast("int")
    )
    hashed = grams.filter(F.col("full")).select(
        "doc_id",
        "pos",
        (
            F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long")
            * 1048576
            + guarded_pos
        ).alias("key"),
        F.count("*").over(Window.partitionBy("doc_id")).alias("n_grams"),
    )
    wwin = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    )
    winsel = hashed.select(
        "doc_id",
        "pos",
        "n_grams",
        F.min("key").over(wwin).alias("sel"),
    )
    return (
        winsel.filter(F.col("pos") + (w - 1) <= F.col("n_grams") - 1)
        .select("doc_id", "sel")
        .distinct()
        .select("doc_id", F.shiftright("sel", 20).alias("h"))
        .distinct()
    )


def winnow_fingerprints_chunked(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    chunk_tokens_n: int = 262144,
) -> DataFrame:
    """:func:`winnow_fingerprints` for documents beyond the encoded
    tie-break key's 2^20-gram ceiling (the documented escape hatch for
    the loud overflow guard — VERDICT r14 #7): chunk each document
    into ``chunk_tokens_n``-token windows overlapping by w + k - 1
    tokens (via :func:`~..packing.chunk_tokens`), winnow every chunk
    independently with chunk-RELATIVE positions (always < 2^20), and
    union the selected hashes per document.

    The overlap makes this EXACTLY equal to the unchunked operator,
    not an approximation: every w-gram window of the full document
    spans w + k - 1 consecutive tokens, so with overlap >= w + k - 2
    each window lies intact inside some chunk, each chunk's gram
    sequence is a contiguous subsequence of the full document's, and
    the window-min tie-break (leftmost position on equal hashes) is
    order-preserved under the constant chunk offset — the per-chunk
    selections union to precisely the full document's selection set
    (pytest pins set equality against the unchunked operator).  The
    w + k - 1 guarantee therefore holds across chunk boundaries.

    100 TB shape: chunking is map-only (no shuffle, no UDF); the only
    shuffle is winnowing's (doc, chunk) window partition — finer keys
    than the unchunked operator, so one pathological 10 M-token
    document parallelizes across tasks instead of serializing one."""
    from .packing import chunk_tokens

    overlap = w + k - 1
    if chunk_tokens_n > 1 << 20:
        raise ValueError(
            f"chunk_tokens_n={chunk_tokens_n} exceeds the 2^20 encoded-"
            "position ceiling the chunking exists to respect"
        )
    if chunk_tokens_n <= overlap:
        raise ValueError(
            f"chunk_tokens_n={chunk_tokens_n} must exceed the "
            f"w + k - 1 = {overlap} token overlap"
        )
    # normalize BEFORE chunk_tokens so its plain split-on-space
    # tokenization agrees with winnow_fingerprints' \s+ collapse
    norm = docs.select(
        F.col(id_col).alias("doc_id"),
        F.trim(
            F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
        ).alias("text"),
    )
    chunks = chunk_tokens(
        norm,
        window=chunk_tokens_n,
        stride=chunk_tokens_n - overlap,
    ).select(
        F.struct("doc_id", "chunk_id").alias("doc_id"),
        F.concat_ws(" ", "chunk_toks").alias("text"),
    )
    per_chunk = winnow_fingerprints(chunks, k=k, w=w)
    return (
        per_chunk.select(F.col("doc_id.doc_id").alias("doc_id"), "h")
        .distinct()
    )
