"""Deduplication operators over a document corpus.

Four tiers, cheapest to most semantic:

1. ``exact_dedup_groups`` — hash-groupBy on a canonical fingerprint.
   One shuffle on a 128-bit key; the 100 TB workhorse.
2. ``ngram_jaccard_pairs`` — exact n-gram Jaccard via an inverted
   shingle index (explode -> self-join on shingle -> count). Exact but
   the join fan-out is quadratic in per-shingle document frequency;
   use after blocking, or cap document frequency.
3. ``minhash_lsh_pairs`` — MinHash signatures + banded LSH. The scale
   path: candidate pairs only ever co-group within a (band, bucket)
   key, so the shuffle is linear in corpus size. Probabilistic;
   optionally verified with exact Jaccard on the candidates by
   ``verified_near_dup_pairs``, the one candidate-pair verifier every
   blocking scheme here (LSH, SimHash, sorted neighborhood) shares.
4. ``simhash_pairs`` — 64-bit SimHash + banded Hamming blocking.

All hashing uses Spark built-ins (xxhash64/md5) — JVM-side, no Python
UDFs anywhere.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.caching import ensure_parallelism, iter_checkpoint, track_persist
from ..operators.er import sorted_neighborhood_block

# Mersenne prime 2^31-1 as the universal-hash modulus. The base hash
# and both coefficients stay below 2^31, so a*h+b < 2^62 — inside the
# signed-long range even under ANSI mode (Spark 4 default), which
# raises ARITHMETIC_OVERFLOW instead of wrapping. 2^31-1 still gives
# ~2e9 hash values: collision probability per shingle pair ~5e-10,
# negligible against MinHash's own estimation variance.
_MERSENNE = (1 << 31) - 1


def _normalized(text_col: str) -> F.Column:
    return F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")


def _shuffle_partitions(df: DataFrame) -> int:
    """The session's shuffle fan-out — used to pin explicit repartition
    counts to the same number every keyed shuffle uses, so a persisted
    hash-partitioned table satisfies downstream join/groupBy
    distributions without a new Exchange (scale-adaptive: the session
    conf, not a constant)."""
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return df.sparkSession.sparkContext.defaultParallelism


def _persist_keyed(df: DataFrame, *cols: str) -> DataFrame:
    """track_persist with the cache laid out as HashPartitioning(cols)
    (guide §2.4 'share one exchange'): InMemoryTableScan preserves the
    cached plan's outputPartitioning, so every downstream join or
    groupBy keyed on ``cols`` reads the cache WITHOUT re-shuffling it.
    Pays the one shuffle the first consumer would have paid anyway;
    every further keyed consumer rides it — the in-session analogue of
    a bucketed table."""
    from ..operators.caching import track_persist

    return track_persist(df.repartition(_shuffle_partitions(df), *cols))


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: md5 over normalized text, keep the min id.

    Returns (text_hash, keep_id, n_copies). One groupBy shuffle on the
    hash; at 100 TB pre-aggregate per partition (map-side combine is
    automatic for min/count).
    """
    return (
        docs.select(F.md5(_normalized(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def dedup_keep_best(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_col: F.Column | None = None,
) -> DataFrame:
    """Exact dedup that keeps the BEST row per duplicate group, not an
    arbitrary one: group by normalized-text fingerprint, rank by a
    quality score (rounded, ties broken by id), keep rank 1 — the
    standard 'canonical document selection' step of a training-data
    pipeline. Returns (id, text_hash, quality).

    One shuffle on the 128-bit fingerprint; the rank window is
    partitioned by it, so group size bounds the task, never corpus
    size. ``quality_col`` defaults to ``functions.text.quality_score``.
    """
    from ..functions.text import quality_score

    q = quality_col if quality_col is not None else quality_score(text_col)
    scored = docs.select(
        F.col(id_col),
        F.md5(_normalized(text_col)).alias("text_hash"),
        F.round(q, 6).alias("quality"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("text_hash").orderBy(F.desc("quality"), F.asc(id_col))
    return (
        scored.select("*", F.row_number().over(w).alias("__rn__"))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def word_shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3, distinct: bool = True) -> DataFrame:
    """Word n-gram shingles per document: (id, shingle), distinct per
    doc by default.

    Built with array expressions (split -> transform over a sequence ->
    array_distinct -> explode) — whole-stage codegen, no UDF, and the
    per-doc dedup is a per-row hash set BEFORE the explode, never a
    shuffle. ``distinct=False`` skips the array_distinct for consumers
    that count repeated grams (e.g. dup_gram_coverage's weighting).
    """
    toks = F.split(_normalized(text_col), " ")
    # zip n shifted slices and join INSIDE the lambda from the struct
    # argument only: referencing the token array via element_at in the
    # lambda re-evaluates the whole split() per element (higher-order
    # lambdas are interpreted, no common-subexpression elimination) —
    # O(len^2) per doc, measured 16.0s -> 1.2s at sf0.1 for the
    # identical shingle strings
    win = F.greatest(F.size("t") - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice("t", j + 1, win) for j in range(n)])
    arr = F.transform(
        zipped, lambda t: F.concat_ws(" ", *[t[str(j)] for j in range(n)])
    )
    # per-doc dedup happens BEFORE the explode (array_distinct is a
    # codegen'd per-row hash set) instead of a .distinct() over the
    # exploded (id, shingle) rows — that distinct was a full Exchange +
    # two-phase HashAggregate of the largest intermediate every shingle
    # consumer builds (r15: one shuffle of the exploded table removed
    # from every distinct=True call site; ids are unique per doc in all
    # callers, so the output row set is identical)
    if distinct:
        arr = F.array_distinct(arr)
    return (
        ensure_parallelism(docs).select(F.col(id_col), toks.alias("t"))
        .filter(F.size("t") >= n)
        .select(id_col, F.explode(arr).alias("shingle"))
    )


def _hashed_shingles(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Distinct per-doc word shingles as xxhash64 longs — the narrow
    (8 B/key) representation the exact comparators, the verifier and
    the incremental-admission family shuffle instead of shingle
    strings."""
    return word_shingles(docs, id_col, text_col, n).select(
        F.col(id_col), F.xxhash64("shingle").alias("shingle")
    )


def _shingle_intersections(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_doc_freq: int | None,
    directed: bool,
) -> tuple[DataFrame, DataFrame]:
    """Shared core of the exact pairwise n-gram comparators: inverted
    shingle index -> per-pair intersection counts + per-doc shingle
    sizes. ``directed=False`` emits each unordered pair once
    (doc_a < doc_b, the symmetric-metric case); ``directed=True``
    emits both orderings (asymmetric metrics like containment).

    Shingles travel as xxhash64 longs from the explode onward (r15):
    every consumer reads only (inter, sizes) — never a shingle string —
    so the df-count aggregate, the stop-shingle semi-join, and the
    inverted-index self-join all shuffle, hash, and compare 8-byte
    keys instead of ~25-byte strings. Same negligible-collision
    contract as chunk_dedup / prefix_filter_pairs (a collision could
    only merge two shingles of a doc pair; ~2^-64 per string pair)."""
    sh = _hashed_shingles(docs, id_col, text_col, n)
    if max_doc_freq is not None:
        # the raw shingle table feeds BOTH the frequency count and the
        # semi-join base; unpersisted, each branch re-runs the explode
        # + distinct shuffle (verified: 2 explode clones in the plan).
        # groupBy + semi-join (not a count-over-shingle window) so the
        # stop-shingle hot keys are partially aggregated map-side
        # instead of funneled into single window partitions.
        # NOT keyed-persisted (r15, measured): ReusedExchange already
        # collapses the self-join's two identical shingle exchanges,
        # and a keyed persist shuffles the RAW exploded rows while the
        # df groupBy's shuffle moves partially-aggregated ones —
        # keyed-first A/B'd 12% SLOWER on soft_dedup/containment.
        sh = track_persist(sh)
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        sh = (
            sh.join(freq.filter(F.col("df") <= max_doc_freq).select("shingle"),
                    on="shingle", how="left_semi")
        )
    # sh feeds the size aggregate AND both sides of the inverted-index
    # join — three recomputes of the explode+distinct shuffle without a
    # persist. The cache is corpus-shingle-sized (spills to disk), still
    # far cheaper than re-shuffling the explode three times. (A
    # persist-the-keep-set-instead variant was A/B'd r16 and lost
    # ~5-8% on soft_dedup/pair_metrics/containment — the extra semi
    # probes over the reused exchange cost more than the second
    # materialization saves at bench scale.)
    sh = track_persist(sh)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    pair_filter = (
        F.col("doc_a") != F.col("doc_b") if directed
        else F.col("doc_a") < F.col("doc_b")
    )
    inter = (
        a.join(b, on="shingle")
        .filter(pair_filter)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return inter, sizes


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity via inverted shingle index.

    (doc_a, doc_b, jaccard) for pairs >= threshold, doc_a < doc_b.
    ``max_doc_freq`` drops shingles appearing in more than that many
    docs — stop-shingle removal, the standard cap on join fan-out at
    scale (a shingle in 1M docs would emit 5e11 pairs).
    """
    inter, sizes = _shingle_intersections(
        docs, id_col, text_col, n, max_doc_freq, directed=False
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """MinHash signature per document as array<long> of length
    ``num_hashes``.

    Each permutation is the universal hash (a_i * x + b_i) mod (2^31-1)
    over the shingle's xxhash64 reduced to 31 bits; min per doc per
    permutation. All operands stay below 2^31 so every intermediate
    product fits a long under ANSI mode. Computed as ``num_hashes``
    aggregate expressions over ONE exploded-shingle shuffle — not
    num_hashes passes.
    """
    coeffs = _minhash_coeffs(num_hashes, seed)
    sh = word_shingles(docs, id_col, text_col, n)
    h = F.pmod(F.xxhash64("shingle"), F.lit(_MERSENNE))
    aggs = [
        F.min(F.pmod(h * F.lit(a) + F.lit(b), F.lit(_MERSENNE))).alias(f"mh_{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    sig = sh.groupBy(id_col).agg(*aggs)
    return sig.select(
        id_col, F.array(*[f"mh_{i}" for i in range(num_hashes)]).alias("signature")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    Signature is split into ``bands`` bands of ``num_hashes/bands``
    rows; docs sharing any band hash become a candidate pair, with the
    estimated Jaccard = fraction of matching signature positions.

    Scale shape: explode to (doc, band, band_hash) -> groupBy-join on
    (band, band_hash). The shuffle key is the band hash, so work is
    linear in corpus size + output pairs; no all-pairs comparison ever
    materializes.
    """
    rows = num_hashes // bands
    # The plan references sig three times (banding + both sides of the
    # signature join-back); without a persist Spark recomputes the
    # shingle-explode + 64-way min aggregation each time. Signatures are
    # tiny (64 longs/doc ≈ 0.5 KB — ~50 GB cluster-wide for a 100M-doc
    # corpus), so MEMORY_AND_DISK is safe at scale.
    sig = track_persist(
        minhash_signatures(docs, id_col, text_col, n, num_hashes, seed)
    )
    # band join on bare (id, band, band_hash) rows — signatures are NOT
    # carried through the join/dedup: a hot band bucket would shuffle
    # |bucket|^2 signature copies. Candidates dedup as id pairs, then
    # the signatures join back once per unique pair.
    banded = sig.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(F.concat_ws(",", F.slice("signature", b * rows + 1, rows)))
                    .alias("band_hash"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.band_hash")
    cand = (
        banded.select(F.col(id_col).alias("doc_a"), "band", "band_hash")
        .join(banded.select(F.col(id_col).alias("doc_b"), "band", "band_hash"),
              on=["band", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sig.select(F.col(id_col).alias("doc_a"), F.col("signature").alias("sig_a"))
    sb = sig.select(F.col(id_col).alias("doc_b"), F.col("signature").alias("sig_b"))
    match_frac = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
        / F.lit(num_hashes)
    )
    return (
        cand.join(sa, on="doc_a").join(sb, on="doc_b")
        .select("doc_a", "doc_b", match_frac.alias("est_jaccard"))
    )


def verified_near_dup_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram-Jaccard verification of candidate pairs — the
    production two-phase near-dedup pattern: a cheap candidate
    generator (``minhash_lsh_pairs`` / ``simhash_pairs`` /
    sorted-neighborhood windows) followed by exact similarity computed
    ONLY on the candidate set.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b for candidates
    whose exact word n-gram Jaccard >= ``threshold``. Candidates may
    come in either orientation and repeated: each unordered pair is
    verified and emitted once, and a self-pair (a, a) never is. When
    the candidate generator has no false negatives at ``threshold``
    (the regime banding parameters are chosen for), the output equals
    the exact all-pairs answer — which is what makes the probabilistic
    machinery oracle-checkable.

    Scale shape: keyed BY THE PAIR. Only docs that appear in some
    candidate are shingled, each into one array of shingle hashes; the
    candidate list joins both docs' arrays and intersects them per row
    (array_intersect is a codegen'd hash-set intersection). Work is
    |pairs| x shingles-per-doc — linear in the candidate count and
    independent of shingle hot-key skew, with no inverted-index
    self-join and no post-join aggregation.

    Shingles travel as xxhash64 longs (8 B vs ~25 B strings — each
    doc's set is re-shipped once per pair it appears in). Same
    negligible-collision contract as chunk_dedup's 64-bit chunks: a
    collision can only inflate an intersection, with probability
    ~2^-64 per shingle pair.
    """
    # canonical orientation BEFORE the distinct, so (b, a) and (a, b)
    # collapse to one pair and no caller's orientation is dropped.
    # Persisted: the pair set is referenced three times below (both
    # legs of the ids union + the final pair join), and without a
    # persist the caller's candidate-generation plan — often a
    # multi-join pipeline — replays once per reference. Pairs are two
    # ids per row, so this is the cheapest possible cut point.
    cand = track_persist(
        candidates.select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )
    ids = (
        cand.select(F.col("doc_a").alias(id_col))
        .union(cand.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    hashed = _hashed_shingles(
        ensure_parallelism(docs).join(ids, on=id_col, how="left_semi"),
        id_col, text_col, n,
    )
    doc_sets = track_persist(
        hashed.groupBy(id_col).agg(F.collect_list("shingle").alias("__shs__"))
    )
    sa = doc_sets.select(F.col(id_col).alias("doc_a"), F.col("__shs__").alias("__sa__"))
    sb = doc_sets.select(F.col(id_col).alias("doc_b"), F.col("__shs__").alias("__sb__"))
    inter = F.size(F.array_intersect("__sa__", "__sb__"))
    na, nb = F.size("__sa__"), F.size("__sb__")
    return (
        cand.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter / (na + nb - inter)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def prefix_filter_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (SSJoin /
    PPJoin, Chaudhuri et al. 2006, Xiao et al. 2008): all pairs with
    word n-gram Jaccard >= ``threshold`` — lossless, unlike the
    ``max_doc_freq`` cap (which silently drops stop-shingle overlap)
    or MinHash (probabilistic). The oracle twin is therefore the PURE
    exact-Jaccard query: this operator must reproduce it exactly.

    Principle: order each document's shingles by ascending corpus
    document frequency (rarest first, ties by shingle). If
    J(A,B) >= t, A and B must collide inside their PREFIXES of length
    |x| - ceil(t·|x|) + 1 — so the inverted index is built over
    prefixes only, and the rarest-first order makes those the least
    fan-out tokens in the corpus. A size filter (t·|A| <= |B| and
    vice versa) prunes length-incompatible survivors before
    verification.

    Scale shape: one groupBy for document frequencies, ONE doc-key
    shuffle that builds each doc's (df, hash)-sorted shingle array
    (per-doc sort, never global — and the same persisted array serves
    both the prefix explode and the suffix verification, r16), a
    self-join restricted to prefix tokens — the frequency order
    concentrates candidates on rare shingles, the opposite of the
    hot-key fan-out a naive inverted index suffers — then exact
    verification on the candidate pairs only.

    Regime: the prefix has length |x|(1-t)+1, so the filter only
    bites at HIGH thresholds — t=0.8 indexes ~20% of each doc (the
    rarest fifth), t=0.2 indexes ~80% and degenerates to the full
    inverted index (measured 46 s vs 4 s at sf0.1). For
    low-threshold similarity mining use ``ngram_jaccard_pairs`` with
    ``max_doc_freq`` (capped, approximate) or ``minhash_lsh_pairs``
    (probabilistic); prefix filtering is the LOSSLESS high-threshold
    near-dup path.

    Positional filter (PPJoin proper, Xiao et al. 2008 §3.2): the
    candidate aggregation also carries each pair's prefix-match count
    k and LAST matched positions (max_pa, max_pb). Because the token
    order is a single global total order, any token shared by A and B
    that sorts before the last prefix-prefix match has strictly
    smaller positions in BOTH documents, hence lies inside both
    prefixes and is itself one of the k matches. Total overlap is
    therefore bounded by k + min(|A| - max_pa, |B| - max_pb), and a
    pair is pruned when that bound cannot reach the minimum
    intersection alpha = ceil(t·(|A|+|B|)/(1+t)) implied by
    J >= t. The prune is lossless (alpha is epsilon-relaxed so float
    rounding can only ADMIT a candidate, and verification recomputes
    the exact intersection of the shingle-hash sets); on
    dense-candidate corpora it cuts the pairs entering verification
    severalfold.

    Shingles are compared as 64-bit xxhash64 values throughout, the
    same contract as chunk_dedup: a hash collision can inflate an
    intersection (and so admit a pair), with probability ~2^-64 per
    shingle pair.
    """
    # the candidate index runs entirely on 64-bit shingle hashes (8 B
    # vs ~25 B strings through two shingle-key shuffles and the doc
    # window; any consistent total order works for prefix filtering,
    # so (df, hash) replaces (df, shingle) as the canonical order) —
    # same negligible-collision contract as chunk_dedup (see docstring)
    # plain persist (r15, measured): a hash(__sh__) keyed persist was
    # A/B'd and LOST — ReusedExchange already collapses the identical
    # __sh__-keyed consumer exchanges, while the keyed persist
    # shuffles raw exploded rows the df groupBy would have partially
    # aggregated first
    sh = track_persist(
        _hashed_shingles(docs, id_col, text_col, n).withColumnRenamed(
            "shingle", "__sh__"
        )
    )
    dfreq = sh.groupBy("__sh__").agg(F.count(F.lit(1)).alias("__df__"))
    # r16: ONE per-doc (df, hash)-sorted array, built once and reused
    # by BOTH the prefix explode and the suffix verification. The r15
    # shape built the same order twice — a row_number window (id-key
    # exchange + per-doc sort over every (doc, shingle) row) for the
    # prefix positions, plus a second collect_list + sort_array over
    # the candidate docs for verification — and paid a separate
    # fact-scale sizes groupBy and a candidate-id semi join. One
    # ObjectHashAggregate now carries the same bytes through the same
    # id-key exchange exactly once; positions come from posexplode of
    # the array prefix (sort_array on the (df, sh) struct is the
    # identical total order — per-doc shingles are distinct, so there
    # are no ties — and n_sh is the array size).
    arrs = track_persist(
        sh.join(dfreq, on="__sh__")
        .groupBy(id_col)
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("__df__").alias("df"),
                            F.col("__sh__").alias("sh"),
                        )
                    )
                ),
                lambda x: x["sh"],
            ).alias("__arr__")
        )
        .select(id_col, "__arr__", F.size("__arr__").alias("n_sh"))
    )
    prefix_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ranked = arrs.select(
        id_col,
        "n_sh",
        F.posexplode(F.slice("__arr__", 1, prefix_len)).alias("__p0__", "__sh__"),
    ).select(
        id_col, "n_sh", (F.col("__p0__") + 1).alias("__pos__"), "__sh__"
    )
    a = ranked.select(
        F.col(id_col).alias("doc_a"),
        F.col("n_sh").alias("__na__"),
        F.col("__pos__").alias("__pa__"),
        "__sh__",
    )
    b = ranked.select(
        F.col(id_col).alias("doc_b"),
        F.col("n_sh").alias("__nb__"),
        F.col("__pos__").alias("__pb__"),
        "__sh__",
    )
    t = F.lit(float(threshold))
    # minimum integer intersection for J >= t; the 1e-9 relaxation
    # makes float rounding err toward ADMITTING candidates (exact
    # verification follows), never toward a false negative
    alpha = F.ceil(
        t * (F.col("__na__") + F.col("__nb__")) / (t + F.lit(1.0)) - F.lit(1e-9)
    )
    cand = track_persist(
        a.join(b, on="__sh__")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            (F.col("__nb__") >= t * F.col("__na__"))
            & (F.col("__na__") >= t * F.col("__nb__"))
        )
        # __na__/__nb__ are functionally determined by the doc ids, so
        # grouping on them adds no groups — it just keeps them in scope
        .groupBy("doc_a", "doc_b", "__na__", "__nb__")
        .agg(
            F.count(F.lit(1)).alias("__k__"),
            F.max("__pa__").alias("__mpa__"),
            F.max("__pb__").alias("__mpb__"),
        )
        .filter(
            F.col("__k__")
            + F.least(
                F.col("__na__") - F.col("__mpa__"),
                F.col("__nb__") - F.col("__mpb__"),
            )
            >= alpha
        )
    )
    # Suffix-restricted exact verification (the PPJoin+ suffix
    # decomposition, Xiao et al. 2008 §4, re-costed for Spark). Key
    # identity: every shared token NOT among the k prefix-prefix
    # matches sorts after the last match in the global (df, hash)
    # order, hence sits at position > mpa in A AND > mpb in B — so
    # with SA = A[mpa+1:], SB = B[mpb+1:] (slices of the per-doc
    # token arrays sorted by that same order),
    #     |A ∩ B| = k + |SA ∩ SB|           ... EXACTLY.
    # The paper prunes |SA ∩ SB| with recursive binary probes before
    # intersecting; that is the right trade for its in-memory index
    # nested loop, but in Spark the probe is an INTERPRETED
    # higher-order lambda (F.filter/F.exists re-evaluate outer
    # expressions per element, no codegen) while array_intersect is a
    # codegen'd hash intersection — measured 4-10x SLOWER with the
    # probe than without at sf0.1. So the suffix filter's payload
    # here is the identity itself: verification intersects only the
    # suffixes (shorter than the full arrays by exactly the prefix
    # fraction, i.e. ~(1-t) of each doc at threshold t) and reuses
    # the already-aggregated k, mpa, mpb. Lossless by construction —
    # the count is exact, not a bound. Arrays are sorted by
    # struct(df, sh) then projected down to bare 8-byte hash longs
    # (the transform lambda runs once per doc in the groupBy, not per
    # pair), so the pair join ships the minimal representation.
    inter = F.col("__k__") + F.size(
        F.array_intersect(
            F.slice("__aarr__", F.col("__mpa__") + 1, F.col("__na__") - F.col("__mpa__")),
            F.slice("__barr__", F.col("__mpb__") + 1, F.col("__nb__") - F.col("__mpb__")),
        )
    )
    # the persisted per-doc arrays serve verification directly — no
    # candidate-id collection, no second aggregate (r16)
    return (
        cand.join(
            arrs.select(F.col(id_col).alias("doc_a"), F.col("__arr__").alias("__aarr__")),
            on="doc_a",
        )
        .join(
            arrs.select(F.col(id_col).alias("doc_b"), F.col("__arr__").alias("__barr__")),
            on="doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (inter / (F.col("__na__") + F.col("__nb__") - inter)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= t)
    )


def sorted_neighborhood_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 10,
    key_len: int = 24,
    prefix_len: int = 2,
    n: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Sorted-neighborhood near-dup blocking (Hernández/Stolfo SNM):
    sort the corpus on a cheap blocking key (the first ``key_len``
    chars of the normalized text), pair each document with its next
    ``window - 1`` neighbors in that order, and verify candidates with
    exact word n-gram Jaccard. The classic entity-resolution
    complement to LSH blocking: O(N·w) candidates, strong on records
    whose duplicates share a prefix (names, titles, templated text).

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b and
    jaccard >= ``threshold``.

    Blocking is ``operators.er.sorted_neighborhood_block`` on that key
    (bare id pairs: a global rank from ``windows.bucketed_prefix_sums``
    over key-prefix buckets, then a rank-band equi-join — no global
    sort, no single-partition window; raise ``prefix_len`` to split
    hot prefixes). Verification shingles only the candidate docs and
    intersects them per pair (``verified_near_dup_pairs``, which also
    puts each pair in (lo, hi) order).
    """
    key = F.substring(_normalized(text_col), 1, key_len)
    ids = sorted_neighborhood_block(
        docs, id_col, key, window, prefix_len, with_attributes=False
    )
    cand = ids.select(
        F.col(f"{id_col}_a").alias("doc_a"), F.col(f"{id_col}_b").alias("doc_b")
    )
    return verified_near_dup_pairs(docs, cand, id_col, text_col, n, threshold)


def simhash_docs(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document (id, simhash long).

    Per token xxhash64; each of the 64 bit positions votes +1/-1 by the
    token's bit; the sign vector re-packs into a long. Expressed as
    explode -> 64 conditional-sum aggregates -> bit re-assembly, all
    JVM-side. One shuffle on the doc id.
    """
    toks = (
        ensure_parallelism(docs)
        .select(F.col(id_col), F.explode(F.split(_normalized(text_col), " ")).alias("tok"))
        .withColumn("h", F.xxhash64("tok"))
    )
    # Pack FOUR 16-bit one-counters per long so 16 sum aggregates cover
    # all 64 bit positions (bit i set iff 2*ones_i > n_tokens — same
    # sign test as the +1/-1 vote sum, verified bit-identical). The
    # naive 64 conditional-sum aggregates generate a codegen unit big
    # enough that its FIRST compilation dominated the bench (11.6 s
    # cold vs 2.6 s warm at sf0.1); packing cuts cold time ~40% with
    # identical warm throughput. 16-bit counters bound a document to
    # 65535 tokens — enforced loudly below, not silently corrupted.
    #
    # r16: the bit-math trees are built as SQL expr STRINGS parsed
    # JVM-side in one call each, not ~800 chained Column ops — the
    # Column route cost 1.6-1.9 s of DRIVER time per plan construction
    # (py4j round trip + incremental re-analysis per operation,
    # measured; the executors only spent 22 s of task-time on the whole
    # query). Identical operators, literals, and left-associativity —
    # the generated expressions are the same trees the loop built.
    packs = []
    for g in range(16):
        terms = [
            f"shiftleft(CAST(shiftright(h, {g * 4 + j}) & 1 AS BIGINT), {16 * j})"
            for j in range(4)
        ]
        packs.append(F.expr(f"sum({' + '.join(terms)})").alias(f"p_{g}"))
    agg = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("__nt__"), *packs)
    sim_str = None
    for g in range(16):
        for j in range(4):
            bit = (
                f"(CASE WHEN (shiftright(p_{g}, {16 * j}) & 65535) * 2 > __nt__ "
                f"THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            )
            term = f"shiftleft({bit}, {g * 4 + j})"
            # disjoint bits: XOR chain, left-associated like the old loop
            sim_str = term if sim_str is None else f"({sim_str} ^ {term})"
    sim = F.expr(sim_str)
    guard = F.coalesce(
        F.assert_true(
            F.col("__nt__") < F.lit(1 << 16),
            F.lit("simhash_docs: document exceeds 65535 tokens; "
                  "chunk it (llm/packing.split_to_chunks) before hashing"),
        ).cast("long"),
        F.lit(0),
    )
    return agg.select(id_col, sim.bitwiseXOR(guard).alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup candidates: pairs within ``max_hamming`` bits.

    Pigeonhole blocking: split the 64-bit hash into ``bands`` chunks —
    any pair within max_hamming < bands shares at least one exact
    chunk, so joining on (band, chunk) finds all of them with a
    linear-size shuffle; then filter by exact popcount(xor).
    """
    width = 64 // bands
    mask = (1 << width) - 1
    # sh feeds both sides of the band self-join; persist so the 64-way
    # conditional-sum aggregation runs once (8 B/doc — trivially cached).
    sh = track_persist(simhash_docs(docs, id_col, text_col))
    banded = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftright("simhash", i * width).bitwiseAND(F.lit(mask)).alias("chunk"),
                )
                for i in range(bands)
            ])
        ).alias("bc"),
    ).select(id_col, "simhash", "bc.band", "bc.chunk")
    a = banded.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sh_a"), "band", "chunk")
    b = banded.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("sh_b"), "band", "chunk")
    return (
        a.join(b, on=["band", "chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"))
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def dup_clusters(
    pairs: DataFrame,
    left: str = "doc_a",
    right: str = "doc_b",
    id_alias: str = "doc_id",
    cluster_alias: str = "cluster_id",
    max_iters: int = 25,
    checkpoint_dir: str | None = None,
    propagation_rounds: int = 8,
) -> DataFrame:
    """Connected components over near-dup pairs: every doc in a cluster
    gets the cluster's minimum doc id as its label. Pair emitters
    (jaccard/minhash/simhash) only say "a~b"; dedup policy needs the
    transitive closure — keep one doc per *cluster*, not per pair.

    Hybrid of the cheap common case and a guaranteed-convergent
    fallback:

    Phase 1 — min-label propagation with pointer jumping, at most
    ``propagation_rounds`` rounds: each round every node takes the min
    of its own and its neighbors' labels (one edge-scale join), then
    also its label's label (one node-scale join). Real dup graphs are
    shallow (cliques and short chains) and converge here in 2-4 rounds
    at roughly half the per-round cost of phase 2. The combined-step
    fixpoint implies a plain propagation fixpoint (labels only
    decrease), which is the true closure — so a phase-1 exit is exact.

    Phase 2 — if phase 1 did not converge, the graph has real
    diameter (sorted-neighborhood ER chains consecutive records of a
    sorted run; propagation measured >25 rounds on er_multipass's
    190k-candidate graph at sf0.1 and previously returned
    partially-merged clusters without saying so). The edge set is
    contracted by the phase-1 labels, then resolved by alternating
    large-star / small-star contraction (Kiveris, Lattanzi, Mirrokni,
    Rastogi, Vassilvitskii, "Connected Components in MapReduce and
    Beyond", SoCC 2014):

    - large-star: every node u connects each STRICTLY LARGER neighbor
      to m(u) = min(neighbors(u) + {u}); each undirected edge is
      rewritten exactly once (from its smaller endpoint), so the edge
      count never grows.
    - small-star: every node u connects each strictly smaller neighbor
      and itself to the minimum of its smaller neighbors.

    Per-component stars rooted at the minimum id are the fixpoint, and
    the paper proves the alternation reaches it in O(log^2 n) rounds
    REGARDLESS of diameter. Phase-1 labels compose with the star roots
    (cluster ids are node ids, and the component minimum is a fixpoint
    of phase 1, so composition preserves min-id labeling). Exhausting
    ``max_iters`` alternations raises instead of returning a partial
    merge.

    Scale shape: phase-2 rounds are two edge-keyed groupBy/join passes
    over an edge table that SHRINKS as stars form; localCheckpoint
    truncates lineage per round (``checkpoint_dir`` switches to
    reliable DFS checkpoints, see ``iter_checkpoint``); convergence
    probes are limit(1).count() actions, not collects. Every phase-2
    pass routes through aggregates (groupBy / distinct) and phase 1
    routes its jump through an identity aggregate — deliberately:
    localCheckpoint's LogicalRDD carries its origin plan's
    size-in-bytes ESTIMATE forward and Catalyst multiplies join
    children, so a bare iterated self-join DOUBLES the estimate's bit
    length per round (measured: 253 -> 12k bits in 6 rounds, with
    round-20 planning grinding minutes of BigInteger arithmetic inside
    SizeInBytesOnlyStatsPlanVisitor); aggregates clamp the estimate to
    linear growth.
    """
    # ---- phase 1: min-label propagation + pointer jump ----
    edges_bidir = (
        pairs.select(F.col(left).alias("src"), F.col(right).alias("dst"))
        .union(pairs.select(F.col(right).alias("src"), F.col(left).alias("dst")))
        .distinct()
    )
    edges_bidir = iter_checkpoint(edges_bidir, checkpoint_dir, eager=False)
    labels = (
        edges_bidir.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    labels = iter_checkpoint(labels, checkpoint_dir, eager=False)
    converged = False
    for _ in range(propagation_rounds):
        neigh = (
            edges_bidir.join(labels, edges_bidir["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("neigh_label"))
        )
        stepped = (
            labels.join(neigh, labels["node"] == neigh["src"], "left")
            .select(
                labels["node"],
                F.least(
                    labels["label"], F.coalesce(F.col("neigh_label"), labels["label"])
                ).alias("label"),
                labels["label"].alias("__old__"),
            )
        )
        # pointer jump: label <- min(label, label[label]); the parent
        # lookup goes through an identity aggregate (node unique) to
        # clamp the checkpoint-carried size estimate — see docstring
        parent = (
            stepped.groupBy("node")
            .agg(F.min("label").alias("__pl__"))
            .select(F.col("node").alias("__pn__"), "__pl__")
        )
        # r15: carry the change flag THROUGH the checkpoint — the
        # convergence probe becomes a filter+limit scan of the already
        # materialized round table instead of a node-keyed shuffle
        # join of two checkpointed tables (one probe join removed per
        # propagation round for every dup_clusters consumer)
        new_labels = (
            stepped.join(parent, stepped["label"] == parent["__pn__"], "left")
            .select(
                stepped["node"],
                F.least(
                    stepped["label"],
                    F.coalesce(F.col("__pl__"), stepped["label"]),
                ).alias("label"),
                (
                    F.least(
                        stepped["label"],
                        F.coalesce(F.col("__pl__"), stepped["label"]),
                    )
                    != F.col("__old__")
                ).alias("__chg__"),
            )
        )
        new_labels = iter_checkpoint(new_labels, checkpoint_dir)
        changed = new_labels.filter(F.col("__chg__")).limit(1).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            converged = True
            break
    if converged:
        return labels.select(
            F.col("node").alias(id_alias), F.col("label").alias(cluster_alias)
        )

    # ---- phase 2: star contraction on the phase-1-contracted graph ----
    # relabel endpoints by the phase-1 labels and keep the canonical
    # (lo < hi) survivor edges between distinct super-nodes
    la = labels.select(F.col("node").alias("__na__"), F.col("label").alias("__la__"))
    lb = labels.select(F.col("node").alias("__nb__"), F.col("label").alias("__lb__"))
    edges = (
        edges_bidir.join(la, edges_bidir["src"] == la["__na__"])
        .join(lb, edges_bidir["dst"] == lb["__nb__"])
        .filter(F.col("__la__") != F.col("__lb__"))
        .select(
            F.least("__la__", "__lb__").alias("lo"),
            F.greatest("__la__", "__lb__").alias("hi"),
        )
        .distinct()
    )
    edges = iter_checkpoint(edges, checkpoint_dir, eager=False)
    star_converged = False
    for _ in range(max_iters):
        # both-direction neighbor view (u, v)
        d = edges.select(F.col("lo").alias("u"), F.col("hi").alias("v")).union(
            edges.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )
        # large-star: (v, m(u)) for v > u, m(u) = min(Γ(u) + {u});
        # m <= u < v so the output is already canonical (lo=m, hi=v)
        lmin = (
            d.groupBy("u")
            .agg(F.min("v").alias("__mn__"))
            .select("u", F.least("__mn__", F.col("u")).alias("m"))
        )
        after_large = (
            d.filter(F.col("v") > F.col("u"))
            .join(lmin, "u")
            .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
            .distinct()
        )
        # lazy: materializes once when small-star first reads it (it is
        # referenced twice in the both-direction view below)
        after_large = iter_checkpoint(after_large, checkpoint_dir, eager=False)
        # small-star on the large-star output: for each u with smaller
        # neighbors, m = min of those; connect the other smaller
        # neighbors and u itself to m (m < v < u and m < u: canonical)
        d2 = after_large.select(
            F.col("hi").alias("u"), F.col("lo").alias("v")
        ).union(after_large.select(F.col("lo").alias("u"), F.col("hi").alias("v")))
        ds = d2.filter(F.col("v") < F.col("u"))
        smin = ds.groupBy("u").agg(F.min("v").alias("m"))
        small_members = (
            ds.join(smin, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
        )
        small_self = smin.select(F.col("m").alias("lo"), F.col("u").alias("hi"))
        new_edges = small_members.union(small_self).distinct()
        # lazy: the convergence probe below materializes it (and
        # after_large) in ONE action per round
        new_edges = iter_checkpoint(new_edges, checkpoint_dir, eager=False)
        # r15: both edge sets are distinct by construction, so set
        # inequality == a null row in the full-outer key join — ONE
        # join probe instead of two exceptAll anti-joins + union
        changed = (
            new_edges.withColumn("__l__", F.lit(1))
            .join(
                edges.withColumn("__r__", F.lit(1)),
                on=["lo", "hi"],
                how="full",
            )
            .filter(F.col("__l__").isNull() | F.col("__r__").isNull())
            .limit(1)
            .count()
        )
        edges = new_edges
        if changed == 0:
            star_converged = True
            break
    if not star_converged:
        raise RuntimeError(
            f"dup_clusters: star contraction did not converge within "
            f"max_iters={max_iters} alternation rounds (the published "
            f"bound is O(log^2 n) and real dup graphs take a handful; "
            f"check the pair input for pathological growth before "
            f"raising max_iters)"
        )
    # at the fixpoint every edge is (component-min, member); compose:
    # a node's final label is its phase-1 label's star root (phase-1
    # labels whose component fully merged in phase 1 have no star edge
    # and keep themselves)
    star = edges.select(F.col("hi").alias("__sn__"), F.col("lo").alias("__sr__"))
    final = labels.join(star, labels["label"] == star["__sn__"], "left").select(
        labels["node"],
        F.coalesce(F.col("__sr__"), labels["label"]).alias("label"),
    )
    return final.select(
        F.col("node").alias(id_alias), F.col("label").alias(cluster_alias)
    )


def near_dedup_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    left: str = "doc_a",
    right: str = "doc_b",
) -> DataFrame:
    """End-to-end near-dedup: given any pair emitter's output, keep one
    canonical doc (the min id) per connected dup cluster and every doc
    not in any pair. The policy step that turns pair/cluster artifacts
    into an actual filtered corpus.

    Plan: cluster labels (see ``dup_clusters``) -> the non-canonical
    member ids (a tiny set, ~#dups) -> one broadcast anti-join against
    the corpus. The full corpus is touched exactly once.
    """
    clusters = dup_clusters(pairs, left, right, id_alias="__node__", cluster_alias="__lbl__")
    losers = clusters.filter(F.col("__node__") != F.col("__lbl__")).select(
        F.col("__node__").alias(id_col)
    )
    return docs.join(F.broadcast(losers), on=id_col, how="left_anti")


def chunk_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 4,
    min_docs: int = 2,
    sep: str = " ",
) -> DataFrame:
    """Sub-document (paragraph/line-level) dedup, CCNet/RefinedWeb
    style: split each document into consecutive ``chunk_words``-word
    chunks, drop every chunk whose exact text occurs in at least
    ``min_docs`` distinct documents (boilerplate, headers, license
    blurbs), and reassemble the survivors in order. Returns
    (id, clean_text, n_chunks, n_removed) — one row per input doc,
    docs whose every chunk is boilerplate come back with clean_text ''.

    The 100 TB shape: the corpus text is NEVER shuffled. Only 64-bit
    chunk hashes flow through the frequency aggregation and the dup
    probe (content dropped pre-shuffle, as in the multimodal ops); the
    removed (doc, chunk_idx) set — small, ~#boilerplate hits — joins
    back to the original docs on id, and each doc's clean text is
    rebuilt locally from its own words array with JVM array functions.
    AQE broadcasts the removed side when it is small enough. The only
    approximation is xxhash64 chunk identity (collision odds ~n^2/2^64
    — at 1e12 chunks still < 1e-4 expected collisions corpus-wide).
    """
    words = F.split(F.col(text_col), re.escape(sep))
    n_chunks = F.ceil(F.size(words) / F.lit(float(chunk_words))).cast("int")

    def chunk_at(i):  # chunk i = words[i*W : i*W + W], joined back with sep
        return F.array_join(F.slice(words, i * chunk_words + 1, chunk_words), sep)

    light = ensure_parallelism(docs).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.xxhash64(chunk_at(i)),
            )
        ).alias("__ci__", "__h__"),
    )
    dup_hashes = (
        light.groupBy("__h__")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd__"))
        .filter(F.col("__nd__") >= min_docs)
        .select("__h__")
    )
    removed = (
        light.join(dup_hashes, on="__h__")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("__ci__")).alias("__rm__"))
    )
    rm = F.coalesce(F.col("__rm__"), F.array().cast("array<int>"))
    kept_idx = F.filter(
        F.sequence(F.lit(0), n_chunks - 1), lambda i: ~F.array_contains(rm, i)
    )
    return docs.join(removed, on=id_col, how="left").select(
        F.col(id_col),
        F.array_join(F.transform(kept_idx, chunk_at), sep).alias("clean_text"),
        n_chunks.cast("long").alias("n_chunks"),
        F.size(rm).cast("long").alias("n_removed"),
    )


def soft_dedup_weights(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    left: str = "doc_a",
    right: str = "doc_b",
) -> DataFrame:
    """Soft dedup: instead of DROPPING near-duplicates, weight every
    document by 1/|its duplicate cluster| so each distinct piece of
    content contributes unit mass to training sampling — the
    repetition-without-deletion policy data-mixing work uses when
    near-dups still carry signal (quotes, versions, mirrors). Returns
    (id, cluster_id, cluster_size, weight) for EVERY corpus document
    (singletons: own id, size 1, weight 1.0). Feed ``weight`` into
    ``weighted_sample_per_group``.

    One CC pass over the pair graph (tiny vs the corpus) + one
    broadcast-able size rollup + one left join back on id; the corpus
    is touched once.
    """
    clusters = dup_clusters(pairs, left, right, id_alias=id_col)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    labeled = clusters.join(sizes, on="cluster_id")
    return (
        docs.select(id_col)
        .join(labeled, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
            F.coalesce("cluster_size", F.lit(1).cast("long")).alias("cluster_size"),
            F.round(
                F.lit(1.0) / F.coalesce("cluster_size", F.lit(1).cast("long")), 6
            ).alias("weight"),
        )
    )


def ngram_pair_metrics(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Jaccard AND both containment directions from ONE intersection
    pass. Callers that want the full near-dup picture previously ran
    ``ngram_jaccard_pairs`` + ``ngram_containment_pairs`` back to back
    — two inverted-index builds, two shingle shuffles over the corpus.
    All three metrics are ratios of the same (inter, |A|, |B|) triple,
    so one undirected ``_shingle_intersections`` pass (each unordered
    pair aggregated once, half the directed variant's pair rows)
    yields:

        (doc_a, doc_b, jaccard, cont_a_in_b, cont_b_in_a)
        jaccard      = inter / (na + nb - inter)
        cont_a_in_b  = inter / na   (how much of A appears in B)
        cont_b_in_a  = inter / nb

    for doc_a < doc_b where ANY metric >= ``threshold``. Same fan-out
    cap (``max_doc_freq``) and id-pairs-only shuffles as the single
    metrics; at 100 TB this halves the dominant cost of running both.
    """
    inter, sizes = _shingle_intersections(
        docs, id_col, text_col, n, max_doc_freq, directed=False
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ).alias("jaccard"),
            F.round(F.col("inter") / F.col("na"), 6).alias("cont_a_in_b"),
            F.round(F.col("inter") / F.col("nb"), 6).alias("cont_b_in_a"),
        )
        .filter(
            F.greatest("jaccard", "cont_a_in_b", "cont_b_in_a") >= threshold
        )
    )


def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup detection: n-gram containment
    |A ∩ B| / |A| — "how much of doc A appears inside doc B". Jaccard
    misses subset duplication (a paragraph quoted inside a much longer
    doc scores low on Jaccard but 1.0 on containment); pretraining
    dedup wants both directions, so each unordered pair emits up to
    two rows: (doc_a, doc_b, containment) where containment is of
    doc_a within doc_b, for every ordered pair >= threshold with
    doc_a != doc_b.

    Same inverted-index plan (and fan-out cap) as
    ``ngram_jaccard_pairs`` — the shared ``_shingle_intersections``
    core: shuffle on shingle, id-pairs-only aggregation, sizes joined
    last.
    """
    inter, sizes = _shingle_intersections(
        docs, id_col, text_col, n, max_doc_freq, directed=True
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("na"))
    return (
        inter.join(sa, "doc_a")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("inter") / F.col("na"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def ngram_probe_pairs(
    corpus: DataFrame,
    probe: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    probe_alias: str = "probe_id",
    exclude_self: bool = True,
    max_probe_freq: int | None = None,
) -> DataFrame:
    """Ingest-time dedup probe: exact n-gram Jaccard of a SMALL probe
    set (today's crawl, one upload batch) against the whole corpus —
    the asymmetric complement of ``ngram_jaccard_pairs``, which pays a
    corpus-sized inverted index because both sides are big.

    Returns (id, probe_id, jaccard) for pairs >= ``threshold``.

    100 TB shape — the corpus NEVER shuffles:
      * probe shingles are eval-batch-sized -> broadcast; the corpus
        is shingled scan-side (``distinct=False`` — no dedup exchange)
        and filtered by the broadcast hash set, so only matching
        (corpus doc, probe doc, shingle) rows exist past the scan;
      * per-pair intersections dedup shingles INSIDE the aggregation
        (count_distinct) on that matched slice only;
      * corpus shingle-set sizes are a pure array projection
        (size(array_distinct(grams)) — no explode), joined to the
        id-keyed match table via broadcast of the SMALL side.

    ``max_probe_freq`` is the fan-out cap (the probe-side analog of
    ``ngram_jaccard_pairs``' ``max_doc_freq``): shingles present in
    more than that many PROBE docs are stop-shingles — each corpus
    occurrence of one fans out to every probe doc containing it, which
    on low-entropy text (boilerplate, tiny vocabularies) turns the
    matched slice into corpus x probe. With the cap, both sides'
    shingle-set sizes consistently exclude the dropped stop-shingles
    (the stop set is bounded by the probe vocabulary, so shipping it
    into the corpus-size projection is one small, documented driver
    round-trip) — the same consistent-underestimate semantics as
    stop-shingle removal in the symmetric operator. Default None keeps
    the metric exact.
    """
    # distinct-shingle COUNTS never need the shingle strings: a
    # higher-order transform building concat_ws strings per element is
    # interpreted (no codegen inside lambdas) and measured 10x slower
    # than zipping n shifted slices into struct triples — identical
    # distinct count (tokens cannot contain the separator post-split)
    toks = F.split(_normalized(text_col), " ")
    # clamp: slice() under ANSI rejects negative lengths on short docs
    win = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(
        *[F.slice(toks, j + 1, win) for j in range(n)]
    )

    from ..operators.caching import iter_checkpoint, track_persist

    # floored ONCE for every corpus-derived branch below (match slice,
    # size projection, broadcast builds) — measured 13s -> ~4s at sf0.1
    # on a 1-file corpus
    corpus = ensure_parallelism(corpus)
    probe = ensure_parallelism(probe)

    # probe shingles and the match table are both small (probe-batch /
    # match-pair sized) but their LINEAGES contain the corpus explode;
    # persisted, each broadcast build and the final assembly read the
    # few-KB cache instead of re-running the shingle subtrees
    p_sh = track_persist(word_shingles(probe, id_col, text_col, n).select(
        F.col(id_col).alias(probe_alias), "shingle"
    ))
    stop: list[str] = []
    if max_probe_freq is not None:
        freq = p_sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("pf"))
        # bounded collect: the stop set is a subset of the (eval-batch
        # sized) probe vocabulary, like the IVF centroid round-trip
        stop = [r.shingle for r in freq.filter(F.col("pf") > max_probe_freq).collect()]
        if stop:
            p_sh = p_sh.join(
                F.broadcast(freq.filter(F.col("pf") <= max_probe_freq).select("shingle")),
                on="shingle", how="left_semi",
            )
    p_sizes = p_sh.groupBy(probe_alias).agg(F.count(F.lit(1)).alias("__np__"))

    matches = (
        word_shingles(corpus, id_col, text_col, n, distinct=False)
        .join(F.broadcast(p_sh), on="shingle")
        .groupBy(id_col, probe_alias)
        .agg(F.count_distinct("shingle").alias("__inter__"))
    )
    if exclude_self:
        matches = matches.filter(F.col(id_col) != F.col(probe_alias))
    matches = track_persist(matches)

    if stop:
        # the stop set must come off the corpus counts too; rebuild the
        # string shingles only on this (capped) path, where the
        # array_except needs them
        grams = F.when(
            F.size(toks) >= n,
            F.transform(
                zipped,
                lambda t: F.concat_ws(" ", *[t[str(j)] for j in range(n)]),
            ),
        ).otherwise(F.array().cast("array<string>"))
        sized = F.size(
            F.array_except(
                F.array_distinct(grams), F.array(*[F.lit(t) for t in stop])
            )
        )
    else:
        sized = F.when(
            F.size(toks) >= n, F.size(F.array_distinct(zipped))
        ).otherwise(F.lit(0))
    c_sizes = corpus.select(
        F.col(id_col), sized.cast("long").alias("__nc__")
    )
    jac = F.col("__inter__").cast("double") / (
        F.col("__nc__") + F.col("__np__") - F.col("__inter__")
    )
    return (
        c_sizes.join(F.broadcast(matches), on=id_col)
        .join(F.broadcast(p_sizes), on=probe_alias)
        .select(id_col, probe_alias, jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def dup_gram_coverage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_docs: int = 2,
    digits: int = 6,
) -> DataFrame:
    """Per-document duplicated n-gram coverage — the fixed-``n``
    read-out of the cross-document EXACT-SUBSTRING duplication signal
    ("Deduplicating Training Data Makes Language Models Better", Lee
    et al. 2022): for every document, how many of its n-gram positions
    carry a gram that also occurs in at least ``min_docs`` distinct
    documents, and what fraction of the document that is. The curation
    dial: rank/trim boilerplate-heavy documents, or route high-coverage
    docs into span-level dedup.

    Returns (id_col, n_grams, dup_grams, dup_fraction) for every doc
    with at least one n-gram (shorter docs have no gram positions).

    Scale shape: one explode over the corpus reduced IMMEDIATELY to
    (doc, gram-md5, multiplicity) — the only fact-sized shuffle; the
    doc-frequency pass and the join back both run on that reduced
    table keyed by the 32-byte hash, so raw text never shuffles. All
    counts are integers; the single rounded division is the only
    float. Mirrors the published algorithm's counting semantics at
    fixed n rather than suffix-array variable-length spans — the
    variable-length generalization needs the suffix machinery the
    paper builds, while fixed n at 5+ already isolates the same
    boilerplate mass.
    """
    per_doc = (
        word_shingles(docs, id_col, text_col, n, distinct=False)
        .select(F.col(id_col), F.md5("shingle").alias("__h__"))
        .groupBy(id_col, "__h__")
        .agg(F.count(F.lit(1)).alias("__m__"))
    )
    df_tbl = per_doc.groupBy("__h__").agg(
        F.count(F.lit(1)).alias("__df__")
    )
    dup = F.col("__df__") >= min_docs
    return (
        per_doc.join(df_tbl, on="__h__")
        .groupBy(id_col)
        .agg(
            F.sum("__m__").cast("long").alias("n_grams"),
            F.sum(F.when(dup, F.col("__m__")).otherwise(F.lit(0)))
            .cast("long")
            .alias("dup_grams"),
        )
        .select(
            id_col,
            "n_grams",
            "dup_grams",
            F.round(
                F.col("dup_grams").cast("double") / F.col("n_grams"), digits
            ).alias("dup_fraction"),
        )
    )


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003
    — the MOSS algorithm): hash every word ``n``-gram, slide a window
    of ``window`` consecutive gram hashes, and select each window's
    RIGHTMOST MINIMUM. Guarantees: any shared substring of at least
    n + window - 1 words produces at least one shared fingerprint, and
    fingerprint density is ~2/(window+1) — position-robust local
    sampling, unlike MinHash's global sampling.

    Exactly the published selection rule: each gram hash is exploded
    into the <= ``window`` window-anchor positions that contain it (no
    self-join at all — O(tokens*window) rows AND comparisons; a
    doc-keyed join with a post-hoc band filter would run
    O(tokens²) comparisons on a long document), each window takes
    min(struct(hash, -pos)) — the (value, rightmost) tie-break — and
    selections dedupe to (id, pos, fp). Everything is integer/hash
    arithmetic, so the SQL twin replays it verbatim.

    Returns (id_col, pos, fp): the selected gram position and its md5
    fingerprint (md5, not xxhash64, deliberately: the SELECTION depends
    on hash ORDER, and md5 hex strings order identically in Spark and
    the DuckDB oracle, while xxhash64 is Spark-private and unprovable).
    """
    # positions come from posexplode over the same zipped-slice gram
    # construction word_shingles uses — deterministic in-doc order
    # straight from the text, no row_number over physical row order
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    toks = F.split(norm, " ")
    win = F.greatest(F.size("__t__") - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice("__t__", j + 1, win) for j in range(n)])
    grams = (
        docs.select(F.col(id_col), toks.alias("__t__"))
        .filter(F.size("__t__") >= n)
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    zipped,
                    lambda t: F.concat_ws(" ", *[t[str(j)] for j in range(n)]),
                )
            ).alias("__p__", "__g__"),
        )
        .select(id_col, "__p__", F.md5("__g__").alias("__h__"))
    )
    # gram at position p belongs to window anchors j in
    # [p - window + 1, p]; explode the membership instead of joining —
    # gram positions are contiguous 0..max, so every j >= 0 is a real
    # anchor and the expansion is exactly the band, never all-pairs
    member_rows = grams.select(
        F.col(id_col),
        F.explode(
            F.sequence(
                F.greatest(F.col("__p__") - (window - 1), F.lit(0)),
                F.col("__p__"),
            )
        ).alias("__j__"),
        "__p__",
        "__h__",
    )
    return (
        member_rows.groupBy(id_col, "__j__")
        .agg(
            F.min(
                F.struct(F.col("__h__").alias("h"), (-F.col("__p__")).alias("np"))
            ).alias("__m__")
        )
        # drop windows that overrun the doc end (fewer than `window`
        # members): the published scheme fingerprints full windows only
        .join(
            grams.groupBy(id_col).agg(F.max("__p__").alias("__mx__")), on=id_col
        )
        .filter(F.col("__j__") + window - 1 <= F.col("__mx__"))
        .select(
            id_col,
            (-F.col("__m__")["np"]).cast("int").alias("pos"),
            F.col("__m__")["h"].alias("fp"),
        )
        .distinct()
    )


def winnow_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_fp_freq: int = 100,
) -> DataFrame:
    """Near-dup candidate pairs by shared winnowing fingerprints:
    (doc_a, doc_b, n_shared) for pairs sharing >= ``min_shared``
    DISTINCT fingerprint values. ``max_fp_freq`` drops boilerplate
    fingerprints appearing in more than that many documents before the
    pair join — the same hot-key cap as the n-gram inverted index, and
    the reason this scales: join fan-out is bounded per fingerprint.
    """
    fps = winnow_fingerprints(docs, id_col, text_col, n, window).select(
        id_col, "fp"
    ).distinct()
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__df__"))
        .filter(F.col("__df__") <= max_fp_freq)
        .select("fp")
    )
    fps = fps.join(rare, on="fp", how="left_semi")
    a = fps.select(F.col(id_col).alias("doc_a"), "fp")
    b = fps.select(F.col(id_col).alias("doc_b"), "fp")
    return (
        a.join(b, on="fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def dedup_span_removal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Span-level duplicate-text REMOVAL — the remediation step
    ``dup_gram_coverage`` only measures ("Deduplicating Training Data
    Makes Language Models Better", Lee et al. 2022: drop the duplicated
    spans, keep the unique remainder, instead of deleting whole
    documents): every token position covered by an n-gram that occurs
    in >= ``min_docs`` distinct documents is removed; the survivors
    rejoin in order. Operates on the NORMALIZED token stream (lower,
    trimmed, whitespace-collapsed — the shared shingling convention).

    Returns (id_col, n_words, n_removed, cleaned_text) for EVERY input
    document (fully-duplicated docs surface with empty text rather
    than disappearing — the caller decides whether to drop them).

    Scale shape: positional n-grams reduce immediately to (doc,
    position, gram-md5) — raw text never rides the doc-frequency pass
    (hash-keyed, the dup_gram_coverage plan); covered positions come
    back as (doc, pos) pairs via one hash join; the only text-bearing
    shuffle is the final rebuild, which moves each surviving (doc,
    pos, word) tuple ONCE to its doc's reducer — unavoidable when the
    output is rewritten text. Mirrors the published algorithm's
    counting semantics at fixed n (see dup_gram_coverage on the
    variable-length suffix-array trade).
    """
    from ..operators.caching import iter_checkpoint, track_persist

    toks = F.split(_normalized(text_col), " ")
    base = track_persist(
        ensure_parallelism(docs).select(F.col(id_col), toks.alias("t"))
    )
    win = F.greatest(F.size("t") - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice("t", j + 1, win) for j in range(n)])
    grams = (
        base.filter(F.size("t") >= n)
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    zipped,
                    lambda t: F.concat_ws(
                        " ", *[t[str(j)] for j in range(n)]
                    ),
                )
            ).alias("__p__", "__g__"),
        )
        .select(id_col, "__p__", F.md5("__g__").alias("__h__"))
    )
    grams = track_persist(grams)
    dup_hashes = (
        grams.select("__h__", id_col)
        .distinct()
        .groupBy("__h__")
        .agg(F.count(F.lit(1)).alias("__nd__"))
        .filter(F.col("__nd__") >= min_docs)
        .select("__h__")
    )
    covered = (
        grams.join(dup_hashes, on="__h__")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("__p__"), F.col("__p__") + F.lit(n - 1))
            ).alias("__pos__"),
        )
        .distinct()
    )
    tokens = base.select(
        id_col, F.posexplode("t").alias("__pos__", "__w__")
    )
    kept = tokens.join(covered, on=[id_col, "__pos__"], how="left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("__nk__"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__pos__"), F.col("__w__")))
                ),
                lambda s: s["__w__"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
    totals = base.select(
        id_col, F.size("t").cast("long").alias("n_words")
    )
    return totals.join(rebuilt, on=id_col, how="left").select(
        id_col,
        "n_words",
        (F.col("n_words") - F.coalesce(F.col("__nk__"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
    )


def cluster_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[float, ...] = (0.8, 0.1, 0.1),
    labels: tuple[str, ...] = ("train", "val", "test"),
    left: str = "doc_a",
    right: str = "doc_b",
    max_iters: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Leakage-safe train/val/test split: near-duplicate CLUSTERS are
    the unit of assignment, so two near-identical documents can never
    land on opposite sides of a train/eval boundary. A plain per-doc
    hash split leaks — every near-dup pair that straddles the cut is a
    training example memorized into the eval set (the reason published
    pipelines dedup/split at cluster granularity; cf. the
    decontamination operator, which handles EXTERNAL eval sets, while
    this handles the corpus's own split).

    Pipeline: transitive closure over the provided near-dup ``pairs``
    (``dup_clusters`` — converges or raises, never truncates),
    singletons fall back to their own id, then the deterministic
    md5-cell ``hash_split`` keyed on ``cluster_id``. Same md5 hex in
    every engine, so the assignment is reproducible and
    oracle-replayable; output = (id, cluster_id, split).

    Scale shape: closure cost is the pair graph's (see
    ``dup_clusters``); the split itself is one broadcast-free
    projection after a left join on the (much smaller) clustered-doc
    table. No windows, no collects.
    """
    from ..operators.sampling import hash_split

    clusters = dup_clusters(
        pairs,
        left=left,
        right=right,
        id_alias=id_col,
        cluster_alias="cluster_id",
        max_iters=max_iters,
        checkpoint_dir=checkpoint_dir,
    )
    assigned = (
        docs.select(id_col)
        .join(clusters, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        )
    )
    return hash_split(assigned, "cluster_id", weights, labels)


def dup_rate_profile(
    docs: DataFrame,
    group_cols: tuple[str, ...] = ("lang", "source"),
    text_col: str = "text",
    digits: int = 6,
) -> DataFrame:
    """Per-slice exact-duplicate pressure report: for every corpus
    slice (language x source by default) the document count, distinct
    normalized-text count, redundant-copy count, largest duplicate
    group, and duplicate rate. The curation dashboard that decides
    WHERE dedup budget goes — a crawl source with dup_rate 0.4 gets
    deduped first; one at 0.01 may not be worth a pass.

    Two-stage aggregation: md5 fingerprint groupBy (the
    ``exact_dedup_groups`` shuffle, linear, map-side combinable) then
    a slice-level rollup of the (slice, fingerprint) counts — the
    second stage's input is bounded by distinct texts, not documents.
    Integer counts throughout; the single rate division happens once
    per output row.
    """
    keys = [F.col(c) for c in group_cols]
    per_fp = (
        docs.select(*keys, F.md5(_normalized(text_col)).alias("__fp__"))
        .groupBy(*group_cols, "__fp__")
        .agg(F.count(F.lit(1)).alias("__n__"))
    )
    n_docs = F.sum("__n__").cast("long")
    n_distinct = F.count(F.lit(1)).cast("long")
    return per_fp.groupBy(*group_cols).agg(
        n_docs.alias("n_docs"),
        n_distinct.alias("n_distinct"),
        (n_docs - n_distinct).alias("n_redundant"),
        F.max("__n__").cast("long").alias("max_group"),
        F.round(
            (n_docs - n_distinct).cast("double") / n_docs.cast("double"),
            digits,
        ).alias("dup_rate"),
    )


def cross_slice_dups(
    docs: DataFrame,
    slice_col: str = "source",
    text_col: str = "text",
    prefix_words: int | None = None,
) -> DataFrame:
    """Content-syndication matrix: for every pair of corpus slices, how
    many distinct normalized texts they SHARE. Within-slice dup rates
    (``dup_rate_profile``) miss mirrored/syndicated content entirely —
    two crawl sources republishing the same articles each look clean
    alone; this pairwise fingerprint intersection is how mirror sites
    and boilerplate syndication networks surface (and which slice
    pairs double-count their joint contribution to the token budget).

    ``prefix_words`` fingerprints only the first N normalized words —
    the standard cheap "shared opening" key that catches syndicated
    articles with per-site footers/edits a full-text fingerprint
    misses (and the granularity that makes the matrix non-degenerate
    on lightly-syndicated corpora).

    Scale shape: distinct (slice, fingerprint) projection (bounded by
    slices x distinct texts), self-join on the 128-bit fingerprint —
    fan-out per fingerprint is bounded by the SLICE count, not corpus
    size — then one pair-keyed count whose output is at most
    slices^2/2 rows.
    """
    norm = _normalized(text_col)
    if prefix_words is not None:
        norm = F.concat_ws(
            " ", F.slice(F.split(norm, " "), 1, int(prefix_words))
        )
    fps = (
        docs.select(F.col(slice_col), F.md5(norm).alias("__fp__"))
        .distinct()
    )
    fps = track_persist(fps)
    a = fps.select(F.col(slice_col).alias("slice_a"), "__fp__")
    b = fps.select(F.col(slice_col).alias("slice_b"), "__fp__")
    return (
        a.join(b, on="__fp__")
        .filter(F.col("slice_a") < F.col("slice_b"))
        .groupBy("slice_a", "slice_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


def split_leakage_audit(
    pairs: DataFrame,
    assignment: DataFrame,
    id_col: str = "doc_id",
    split_col: str = "split",
    left: str = "doc_a",
    right: str = "doc_b",
) -> DataFrame:
    """Split-leakage matrix: how many near-dup PAIRS land in each
    (split, split) cell of a train/val/test assignment. Off-diagonal
    cells are leaks — a training document whose near-duplicate sits in
    an eval split inflates eval scores by memorization, which is
    exactly what ``cluster_safe_split`` prevents (its audit is all
    zeros off-diagonal, by construction; a plain per-doc hash split
    leaks roughly pair-count x 2 x val_frac). Run this BEFORE trusting
    any eval number computed on a hash-split corpus.

    Scale shape: two id-keyed joins of the (small) assignment table
    into the pair list, one bounded (splits x splits) aggregate.
    The split-pair key is order-normalized (least/greatest) so each
    unordered cell appears once.
    """
    a = assignment.select(
        F.col(id_col).alias(left), F.col(split_col).alias("__sa__")
    )
    b = assignment.select(
        F.col(id_col).alias(right), F.col(split_col).alias("__sb__")
    )
    joined = pairs.select(left, right).join(a, on=left).join(b, on=right)
    return (
        joined.groupBy(
            F.least("__sa__", "__sb__").alias("split_a"),
            F.greatest("__sa__", "__sb__").alias("split_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .withColumn(
            "leaked", (F.col("split_a") != F.col("split_b")).cast("int")
        )
    )


def _minhash_coeffs(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """The (a, b) universal-hash coefficients shared by
    ``minhash_signatures`` and the sweep's DuckDB oracle — one
    seeded generator so both engines replay the identical
    permutations."""
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE))
        for _ in range(num_hashes)
    ]


def portable_minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """``minhash_signatures`` with an ENGINE-PORTABLE base hash: the
    shingle is reduced to 28 bits via its md5 hex prefix (identical in
    every engine) instead of xxhash64 (JVM-specific). Same universal
    hashing, same ANSI-safe ranges (h < 2^28, a < 2^31 => a*h+b <
    2^59 fits a long). Costs one md5 per shingle instead of one
    xxhash64 — measurable but small next to the explode shuffle; use
    this variant when the signatures themselves must be replayable
    outside Spark (cross-engine dedup ledgers, the sweep oracle)."""
    coeffs = _minhash_coeffs(num_hashes, seed)
    sh = word_shingles(docs, id_col, text_col, n)
    h = F.conv(F.substring(F.md5("shingle"), 1, 7), 16, 10).cast("long")
    aggs = [
        F.min(F.pmod(h * F.lit(a) + F.lit(b), F.lit(_MERSENNE))).alias(f"mh_{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    sig = sh.groupBy(id_col).agg(*aggs)
    return sig.select(
        id_col,
        F.array(*[f"mh_{i}" for i in range(num_hashes)]).alias("signature"),
    )


def minhash_lsh_sweep(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    configs: tuple[tuple[int, int], ...] = ((8, 8), (16, 4), (32, 2)),
    threshold: float = 0.8,
    seed: int = 42,
    digits: int = 6,
) -> DataFrame:
    """Banding-parameter sweep for MinHash LSH: for each (bands, rows)
    split of one ``num_hashes``-wide signature, the candidate count
    (cost), the true near-dup pairs caught at ``threshold`` and the
    recall against the exact pair set — the capacity-planning curve
    the dedup side needs before committing banding parameters to a
    100 TB run (the twin of ``ann_cells_sweep`` on the ANN side).
    More bands with shorter rows = higher recall, more candidates;
    the curve says what a point estimate (``dedup_minhash_verified``'s
    fixed 16x4) cannot: where recall falls off.

    Output: one row per config — (bands, rows_per_band, n_cand,
    n_true, n_caught, recall). ``n_true``/``n_caught`` use the
    LOSSLESS PPJoin+ exact pair set (``prefix_filter_pairs``), so the
    sweep is deterministic and fully oracle-replayable: signatures use
    ``portable_minhash_signatures`` (md5 base hash), banding is
    md5-of-joined-minima — every step recomputable in SQL.

    Scale shape: signatures computed ONCE (one explode + 64-min
    aggregate, persisted — ~0.5 KB/doc), each config re-bands the
    cached signatures (band-hash-keyed shuffle, linear); the exact
    pair set is computed once and persisted (pair-scale, tiny vs the
    corpus). No all-pairs term anywhere.
    """
    # validate EVERY config before any work: a bad tuple late in the
    # sweep would otherwise waste the persisted signatures + exact pair
    # set and every earlier config's banding shuffle, and leave the
    # tracked caches behind until release_persisted()
    for bands, rows in configs:
        if bands * rows != num_hashes:
            raise ValueError(
                f"bands*rows must equal num_hashes: {bands}x{rows} != {num_hashes}"
            )
    sig = track_persist(
        portable_minhash_signatures(docs, id_col, text_col, n, num_hashes, seed)
    )
    exact = track_persist(
        prefix_filter_pairs(docs, id_col, text_col, n, threshold)
        .select("doc_a", "doc_b")
    )
    # r15 (guide §2.4): ONE config-tagged banding pass instead of one
    # banding self-join + pair-dedup + three aggregates PER config.
    # All configs' band rows (sum(bands) rows/doc) union over the
    # persisted signatures and flow through a single
    # (bands, band, band_hash)-keyed self-join, a single per-config
    # pair dedup, and two grouped aggregates — same shuffled bytes,
    # one barrier chain instead of len(configs). Per-config counts are
    # unchanged: dedup on (bands, doc_a, doc_b) == each config's
    # (doc_a, doc_b) dedup, and the exact join counts each exact pair
    # once per config that bands it together.
    banded_parts = []
    for bands, rows in configs:
        banded_parts.append(
            sig.select(
                id_col,
                F.lit(bands).cast("int").alias("bands"),
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(bands - 1)),
                        # closure binds rows — a 2-arg lambda would
                        # receive the ELEMENT INDEX as its second arg
                        (
                            lambda r: lambda b: F.struct(
                                b.alias("band"),
                                F.md5(
                                    F.concat_ws(
                                        ",",
                                        F.slice("signature", b * r + 1, r),
                                    )
                                ).alias("band_hash"),
                            )
                        )(rows),
                    )
                ).alias("bb"),
            ).select(id_col, "bands", "bb.band", "bb.band_hash")
        )
    banded = banded_parts[0]
    for part in banded_parts[1:]:
        banded = banded.unionByName(part)
    # persisted: the candidate set feeds BOTH the n_cand aggregate and
    # the n_caught join — unpersisted, the band self-join + pair-dedup
    # shuffle (the sweep's dominant cost) runs twice. Re-keyed to
    # (doc_a, doc_b) BEFORE the dedup: hash(doc_a, doc_b) satisfies
    # the (bands, doc_a, doc_b) dedup clustering (subset rule), so the
    # dedup adds no exchange and the exact∩cand join reads both sides
    # co-partitioned (exact is keyed the same way above).
    cand = track_persist(
        banded.select(F.col(id_col).alias("doc_a"), "bands", "band", "band_hash")
        .join(
            banded.select(
                F.col(id_col).alias("doc_b"), "bands", "band", "band_hash"
            ),
            on=["bands", "band", "band_hash"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("bands", "doc_a", "doc_b")
        .repartition(_shuffle_partitions(banded), "doc_a", "doc_b")
        .dropDuplicates(["bands", "doc_a", "doc_b"])
    )
    n_cand = cand.groupBy("bands").agg(
        F.count(F.lit(1)).cast("long").alias("n_cand")
    )
    n_caught = (
        exact.join(cand, on=["doc_a", "doc_b"])
        .groupBy("bands")
        .agg(F.count(F.lit(1)).cast("long").alias("n_caught"))
    )
    # literal config axis (one row per config even when a config has
    # zero candidates), built without a driver-side createDataFrame
    cfg = sig.sparkSession.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bands).cast("int").alias("bands"),
                        F.lit(rows).cast("int").alias("rows_per_band"),
                    )
                    for bands, rows in configs
                ]
            )
        ).alias("c")
    ).select("c.bands", "c.rows_per_band")
    return (
        cfg.join(F.broadcast(n_cand), on="bands", how="left")
        .join(F.broadcast(n_caught), on="bands", how="left")
        .crossJoin(
            F.broadcast(
                exact.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
            )
        )
        .select(
            "bands",
            "rows_per_band",
            F.coalesce("n_cand", F.lit(0).cast("long")).alias("n_cand"),
            "n_true",
            F.coalesce("n_caught", F.lit(0).cast("long")).alias("n_caught"),
            F.round(
                F.coalesce("n_caught", F.lit(0).cast("long")).cast("double")
                / F.nullif(F.col("n_true").cast("double"), F.lit(0.0)),
                digits,
            ).alias("recall"),
        )
    )


def cross_jaccard_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 100,
    right_shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs BETWEEN two corpora (every pair is
    one left doc x one right doc) — the directed building block
    incremental dedup needs: a new batch is compared against the
    existing ledger, never against itself.

    Stop-shingle semantics: shingles whose RIGHT-corpus document
    frequency exceeds ``max_doc_freq`` are dropped from BOTH sides
    before sizes and intersections (the ledger is the at-scale side,
    so its df is the fan-out that must be capped; sizes are computed
    post-filter so the Jaccard stays internally consistent and
    engine-replayable). Returns (doc_a = left id, doc_b = right id,
    jaccard >= threshold).

    Scale shape: one inverted-index join keyed by shingle — work is
    linear in both corpora + emitted intersections; the batch side is
    typically tiny next to the ledger, so this is a map-side-friendly
    join on the shingle key. No self-join term.

    ``right_shingles`` (optional): a precomputed — typically already
    persisted — (id_col, shingle) table of the RIGHT corpus's distinct
    per-doc shingles, PRE-HASHED to xxhash64 longs (the
    ``_hashed_shingles`` convention below). Callers that admit several
    batches against an incrementally growing ledger
    (``incremental_admission_fold``) pass the maintained table so each
    round shingles only its delta instead of re-exploding the whole
    accumulated ledger.

    Shingles travel as xxhash64 longs (r15): the output carries only
    ids and the Jaccard ratio, so the df cap, both size aggregates,
    and the inverted-index join run on 8-byte keys instead of ~25-byte
    strings — the chunk_dedup / prefix_filter_pairs
    negligible-collision contract.
    """
    lsh = _hashed_shingles(left, id_col, text_col, n)
    rsh = (
        right_shingles
        if right_shingles is not None
        else _hashed_shingles(right, id_col, text_col, n)
    )
    if max_doc_freq is not None:
        # the raw ledger shingles feed both the df count and the
        # semi-join base — persist the unfiltered table only when this
        # branch creates that second reference (callers passing
        # right_shingles hand over an already-persisted — ideally
        # shingle-keyed, see incremental_admission_fold — table).
        # Keyed by shingle (r15, guide §2.4): the df groupBy, the keep
        # semi-join, and the inverted-index join all read this layout
        # with no further ledger-side exchange.
        if right_shingles is None:
            rsh = _persist_keyed(rsh, "shingle")
        # persist the KEEP set (vocabulary-sized, layout-preserving),
        # not the filtered fact table (r16): the filtered ledger's two
        # consumers (size aggregate + inverted-index join) re-run a
        # zero-exchange semi join over the keyed caches instead of
        # paying a second fact-scale materialization per call — in the
        # admission fold that materialization repeated EVERY round
        keep = track_persist(
            rsh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("shingle")
        )
        lsh = lsh.join(keep, on="shingle", how="left_semi")
        rsh = rsh.join(keep, on="shingle", how="left_semi")
    # the batch side feeds a size aggregate AND the inverted-index
    # join; it is keyed by shingle too so the join shuffles NEITHER
    # side (the semi-join above preserves the layout when the df-cap
    # branch ran — track_persist then adds no exchange)
    if max_doc_freq is not None:
        lsh = track_persist(lsh)
    else:
        lsh = _persist_keyed(lsh, "shingle")
        if right_shingles is None:
            rsh = _persist_keyed(rsh, "shingle")
    la = lsh.groupBy(id_col).agg(F.count(F.lit(1)).alias("na"))
    rb = rsh.groupBy(id_col).agg(F.count(F.lit(1)).alias("nb"))
    inter = (
        lsh.select(F.col(id_col).alias("doc_a"), "shingle")
        .join(rsh.select(F.col(id_col).alias("doc_b"), "shingle"), on="shingle")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(la.select(F.col(id_col).alias("doc_a"), "na"), on="doc_a")
        .join(rb.select(F.col(id_col).alias("doc_b"), "nb"), on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
            .alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def incremental_dedup(
    batch: DataFrame,
    ledger: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 100,
    ledger_fp: DataFrame | None = None,
    ledger_shingles: DataFrame | None = None,
) -> DataFrame:
    """Incremental-ingest dedup decision table — the shape a 100 TB
    pipeline ACTUALLY runs day to day: a new batch is admitted against
    the corpus that already exists, never re-deduped from scratch.
    Per batch document: ``exact_dup`` (normalized fingerprint already
    in the ledger), ``near_dup`` (word n-gram Jaccard >= ``threshold``
    against any ledger doc, tested only for exact-survivors), else
    ``accept``. Returns (id, decision) for EVERY batch document.

    Scale shape: the exact gate is one fingerprint semi + one anti
    join against the ledger's fingerprint projection (r15: no
    ``distinct()`` on it — semi/anti joins are set-semantics already,
    the distinct was a full Exchange + aggregate of the ledger
    fingerprints for nothing; and the anti join carries the batch text
    along instead of re-attaching it with a second semi join back to
    the batch — one join and one batch scan removed). The near gate
    runs ``cross_jaccard_pairs`` batch x ledger (inverted index,
    ledger-df-capped) on the exact-survivors only. The ledger is
    scanned for fingerprints + shingles — no batch self-join, no
    ledger self-join.

    ``ledger_fp`` / ``ledger_shingles`` (optional): precomputed —
    typically persisted — ledger fingerprint (``__fp__``) and
    (id, shingle) tables; ``incremental_admission_fold`` maintains
    them incrementally so round k only fingerprints/shingles its
    accepted delta.
    """
    fp = F.md5(_normalized(text_col))
    b = batch.select(F.col(id_col), F.col(text_col), fp.alias("__fp__"))
    lfp = (
        ledger_fp
        if ledger_fp is not None
        else ledger.select(fp.alias("__fp__"))
    )
    exact = (
        b.join(lfp, on="__fp__", how="left_semi")
        .select(id_col, F.lit("exact_dup").alias("decision"))
    )
    rest = b.join(lfp, on="__fp__", how="left_anti")
    near_ids = (
        cross_jaccard_pairs(
            rest, ledger, id_col, text_col, n, threshold, max_doc_freq,
            right_shingles=ledger_shingles,
        )
        .select(F.col("doc_a").alias(id_col))
        .distinct()
    )
    near = near_ids.select(id_col, F.lit("near_dup").alias("decision"))
    accept = (
        rest.select(id_col).join(near_ids, on=id_col, how="left_anti")
        .select(id_col, F.lit("accept").alias("decision"))
    )
    return exact.unionByName(near).unionByName(accept)


def multi_ledger_dedup(
    batch: DataFrame,
    ledgers: list[tuple[str, DataFrame]],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int = 100,
) -> DataFrame:
    """Multi-source admission — the multi-ledger generalization of
    ``incremental_dedup`` (the corpus-MERGE shape): one new batch is
    admitted against SEVERAL existing ledgers (the web-crawl ledger,
    the books ledger, ...) with an INDEPENDENT decision per
    (document, ledger). A doc that is an exact dup of the crawl can
    still be fresh relative to books; the downstream merge policy
    (admit-if-accepted-everywhere vs per-slice admission) is a trivial
    groupBy over this table, so the engine emits the full decision
    matrix rather than baking one policy in.

    Per (batch doc, ledger): ``exact_dup`` (normalized fingerprint
    already in THAT ledger), ``near_dup`` (word n-gram Jaccard >=
    ``threshold`` against any doc of that ledger, tested only for that
    ledger's exact-survivors — the ``incremental_dedup`` convention),
    else ``accept``. NULL-text batch docs have NULL fingerprints,
    match nothing exactly (null-unsafe join on both engines), shingle
    to nothing, and land on accept — the certified single-ledger
    semantics.

    Scale shape: the ledger count L is CONFIG (a handful of sources),
    not data-sized. Everything is one pass over the source-tagged
    union of ledgers: fingerprints keyed (source, fp); the near gate
    is ONE inverted-index join on (source, shingle) with a PER-SOURCE
    document-frequency cap (each ledger's own hot shingles are its own
    fan-out hazard); output is |batch| x L decision rows. No self-join
    term on either side. ``max_doc_freq`` is mandatory here — an
    uncapped multi-ledger join multiplies every ledger's hot-shingle
    fan-out by the batch.

    Returns (id_col, source, decision).
    """
    if not ledgers:
        raise ValueError("ledgers must be non-empty")
    names = [nm for nm, _ in ledgers]
    if len(set(names)) != len(names):
        raise ValueError(f"ledger names must be unique, got {names}")
    if max_doc_freq is None or max_doc_freq <= 0:
        raise ValueError("max_doc_freq must be a positive int")

    fp = F.md5(_normalized(text_col))
    tagged_fp = None
    lsh = None
    for nm, df in ledgers:
        tf = df.select(F.lit(nm).alias("source"), fp.alias("__fp__"))
        tagged_fp = tf if tagged_fp is None else tagged_fp.unionByName(tf)
        # shingles as xxhash64 longs (the _hashed_shingles convention):
        # the per-source df cap, the keep semi-join, and the
        # (source, shingle) inverted-index join all shuffle 8-byte keys
        sh = _hashed_shingles(df, id_col, text_col, n).select(
            F.lit(nm).alias("source"), F.col(id_col).alias("__lid__"), "shingle"
        )
        lsh = sh if lsh is None else lsh.unionByName(sh)

    b = batch.select(F.col(id_col), fp.alias("__fp__"))
    lfp = tagged_fp.filter(F.col("__fp__").isNotNull()).distinct()
    # inner join on fp: NULL-fp batch docs match nothing (null-unsafe)
    exact = b.join(lfp, on="__fp__").select(
        id_col, "source", F.lit("exact_dup").alias("decision")
    )
    sources = lfp.sparkSession.createDataFrame(
        [(nm,) for nm in names], "source string"
    )
    combos = b.select(id_col).crossJoin(F.broadcast(sources))
    rest = combos.join(
        exact.select(id_col, "source"), on=[id_col, "source"], how="left_anti"
    )

    # per-source df cap: the raw tagged shingles feed both the df count
    # and the semi-join base. Keyed persist on (source, shingle) (r15,
    # guide §2.4): the df groupBy, the keep semi-join, and — via the
    # preserved layout on lshf — the ledger side of the inverted-index
    # join all read this one exchange.
    lsh = _persist_keyed(lsh, "source", "shingle")
    keep = (
        lsh.groupBy("source", "shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_doc_freq)
        .select("source", "shingle")
    )
    lshf = track_persist(lsh.join(keep, on=["source", "shingle"], how="left_semi"))
    # batch shingles gain the source dimension through the keep join
    # (the cross_jaccard_pairs convention: sizes post-filter against
    # the capped LEDGER vocabulary), then drop to exact-survivors;
    # keyed on (source, shingle) so the batch side of the inverted-
    # index join needs no further exchange either
    bshf = _persist_keyed(
        _hashed_shingles(batch, id_col, text_col, n)
        .join(keep, on="shingle")
        .join(rest, on=[id_col, "source"], how="left_semi"),
        "source",
        "shingle",
    )
    na = bshf.groupBy(id_col, "source").agg(F.count(F.lit(1)).alias("na"))
    nb = lshf.groupBy("source", "__lid__").agg(F.count(F.lit(1)).alias("nb"))
    inter = (
        bshf.join(lshf, on=["source", "shingle"])
        .groupBy(id_col, "source", "__lid__")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    near_keys = (
        inter.join(na, on=[id_col, "source"])
        .join(nb, on=["source", "__lid__"])
        .filter(
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
            >= F.lit(float(threshold))
        )
        .select(id_col, "source")
        .distinct()
    )
    near = near_keys.select(id_col, "source", F.lit("near_dup").alias("decision"))
    accept = rest.join(near_keys, on=[id_col, "source"], how="left_anti").select(
        id_col, "source", F.lit("accept").alias("decision")
    )
    return exact.unionByName(near).unionByName(accept)


def incremental_admission_fold(
    ledger: DataFrame,
    batches: list[DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 100,
) -> DataFrame:
    """Sequential-admission fold — the oracle-checkable batch twin of
    a streaming ingest running ``incremental_dedup`` per micro-batch:
    slice k is admitted against the ORIGINAL ledger PLUS every doc
    accepted from slices < k (an accepted doc immediately blocks its
    own later duplicates — the property per-slice-vs-static-ledger
    admission silently lacks). Returns (id, slice_id, decision) for
    every batch document.

    The fold is a plan-level loop, so each slice's DECISION table is
    eagerly checkpointed (``iter_checkpoint``, the loop-operator
    convention): without lineage truncation, slice k's ledger embeds
    the full decision subtrees of every earlier slice and the plan
    re-evaluates them combinatorially (measured: the 3-slice fold at
    sf0.01 went from minutes-not-finishing to seconds). Decision
    tables are batch-sized — the checkpoint is cheap. The production
    stream (streaming/events.py:admit_doc_stream) maintains the
    accumulated ledger as a parquet sink instead of a growing plan,
    so per-batch work stays bounded by |batch| x |ledger|
    inverted-index terms, not by lineage.

    r15: the ledger's DERIVED tables — the fingerprint projection and
    the (id, shingle) inverted-index base — are maintained
    INCREMENTALLY across rounds (persisted union of the previous
    round's table + the accepted delta's rows) instead of re-deriving
    both from the full accumulated ledger text every round: round k
    normalizes/fingerprints/shingles only its accepted docs, exactly
    the production sink's incremental shape. Shingling is per-row, so
    shingles(ledger ∪ delta) == shingles(ledger) ∪ shingles(delta) —
    the per-round df cap and sizes still aggregate over the FULL
    maintained table, bit-identical to the from-scratch derivation.
    """
    from ..operators.caching import iter_checkpoint

    fpx = F.md5(_normalized(text_col))
    led = ledger.select(F.col(id_col), F.col(text_col))
    # maintained tables persist HASH-PARTITIONED ON THEIR JOIN KEY
    # (r15, guide §2.4): the exact gate's semi/anti joins read led_fp
    # and the df count + keep semi-join + inverted-index join read
    # led_sh without re-shuffling the ledger-scale side — one keyed
    # exchange per round (at the persist) replaces three consumer
    # shuffles
    led_fp = _persist_keyed(led.select(fpx.alias("__fp__")), "__fp__")
    led_sh = _persist_keyed(
        _hashed_shingles(led, id_col, text_col, n), "shingle"
    )
    outs: list[DataFrame] = []
    for k, b in enumerate(batches):
        dec = iter_checkpoint(
            incremental_dedup(
                b, led, id_col, text_col, n, threshold, max_doc_freq,
                ledger_fp=led_fp, ledger_shingles=led_sh,
            )
        )
        outs.append(
            dec.select(
                F.col(id_col),
                F.lit(k).cast("int").alias("slice_id"),
                "decision",
            )
        )
        if k == len(batches) - 1:
            break  # the last round's ledger tables have no consumer
        acc_ids = dec.filter(F.col("decision") == "accept").select(id_col)
        acc = track_persist(
            ensure_parallelism(b.select(F.col(id_col), F.col(text_col))).join(
                acc_ids, on=id_col, how="left_semi"
            )
        )
        # union discards the hash layout, so re-key at each round's
        # persist: one keyed exchange of the grown table per round,
        # against the three consumer shuffles it saves next round
        led_fp = _persist_keyed(
            led_fp.unionByName(acc.select(fpx.alias("__fp__"))), "__fp__"
        )
        led_sh = _persist_keyed(
            led_sh.unionByName(_hashed_shingles(acc, id_col, text_col, n)),
            "shingle",
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def ledger_compaction(
    ledger: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ingest_ts",
) -> DataFrame:
    """Admission-ledger compaction/GC — the WRITE-side twin of
    ``incremental_dedup``: the ledger a daily admission pipeline
    appends to grows unboundedly (re-ingested documents leave their
    old versions behind; exact duplicates admitted before the dedup
    gate existed never get retired), and every batch's fingerprint
    anti-join and shingle inverted-index join pays for those dead rows
    forever. This operator decides, per ledger row, what a compaction
    pass keeps:

    - ``superseded`` — a NEWER version of the same document id exists
      (higher ``ts_col``; ties broken by fingerprint so the decision
      is deterministic). Its fingerprint and shingles describe text
      that is no longer the document's content.
    - ``dup_retired`` — the row is its id's live version, but another
      live row carries the SAME normalized-text fingerprint and a
      smaller id (the ``exact_dedup_groups`` keep-min-id convention):
      one canonical row per distinct content is all the admission
      anti-join needs.
    - ``keep`` — the live, canonical row. The compacted ledger is
      exactly the ``keep`` set; ``superseded`` + ``dup_retired`` rows
      (and their derived shingles) are reclaimable.

    NULL-text live rows are never dup-retired against each other:
    their fingerprint is NULL, and the canonical-selection window
    keys on (fingerprint, id) with NULL fingerprints isolated per id
    — two unrelated rows that both lack text share no content.

    Returns (id, ts, decision) for EVERY ledger row.

    Scale shape: two window functions — one partitioned by id (version
    selection), one by fingerprint (canonical selection over live rows
    only) — i.e. two key-partitioned shuffles, each linear in ledger
    size with per-task work bounded by the largest version/duplicate
    group, never by the corpus. No joins, no collects; composes
    directly with a ``filter(decision = 'keep')`` rewrite of the
    ledger parquet. Reference parity: the reference's retention

    / VACUUM-style maintenance (OPTIMIZE path, 00-etl-rwd.py) keeps
    table files healthy; THIS keeps the dedup ledger's logical
    content healthy — the operator a 100 TB corpus runs weekly.
    """
    fp = F.md5(_normalized(text_col))
    base = ledger.select(
        F.col(id_col),
        F.col(ts_col),
        fp.alias("__fp__"),
    )
    w_ver = Window.partitionBy(id_col).orderBy(
        F.desc(ts_col), F.asc_nulls_last("__fp__")
    )
    versioned = base.select(
        "*", F.row_number().over(w_ver).alias("__vrn__")
    )
    # NULL fingerprints must not pool into one canonical group: key
    # the canonical window on the id itself for NULL-text rows so each
    # is its own (trivially kept) group.
    # 'null:<id>' cannot collide with a 32-char hex md5 fingerprint
    fp_key = F.coalesce(
        F.col("__fp__"),
        F.concat(F.lit("null:"), F.col(id_col).cast("string")),
    )
    w_fp = Window.partitionBy(fp_key).orderBy(F.asc(id_col))
    live = versioned.filter(F.col("__vrn__") == 1).select(
        id_col,
        ts_col,
        "__fp__",
        F.row_number().over(w_fp).alias("__crn__"),
    )
    decided_live = live.select(
        id_col,
        ts_col,
        F.when(F.col("__crn__") == 1, F.lit("keep"))
        .otherwise(F.lit("dup_retired"))
        .alias("decision"),
    )
    superseded = versioned.filter(F.col("__vrn__") > 1).select(
        id_col, ts_col, F.lit("superseded").alias("decision")
    )
    return decided_live.unionByName(superseded)


def admission_trend(
    decisions: DataFrame,
    slice_col: str = "slice_id",
    decision_col: str = "decision",
    digits: int = 6,
) -> DataFrame:
    """Longitudinal admission-rate monitor — the rollup a pipeline
    operator actually watches over the per-batch decision tables the
    admission family emits (``incremental_dedup`` /
    ``multi_ledger_dedup`` / ``incremental_admission_fold``): per
    arrival slice, how many documents were accepted vs retired as
    exact/near duplicates, the accept rate, and its slice-over-slice
    delta. A falling accept rate = the source is re-sending content
    (crawler loop, upstream re-delivery); a jump = a new content vein
    or a broken dedup gate — either way the FIRST signal is this
    table, before ``ingest_drift`` moves.

    Returns one row per slice: (slice, n_docs, n_accept, n_exact,
    n_near, accept_rate, accept_delta) — ``accept_delta`` is NULL for
    the first slice (nothing to difference against).

    Scale shape: one groupBy on the slice key (linear, map-side
    combinable); the lag window runs over the slice-count-bounded
    aggregate — slices are batches/days, config-bounded, never
    data-sized.
    """
    per = decisions.groupBy(slice_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col(decision_col) == "accept").cast("long"))
        .cast("long")
        .alias("n_accept"),
        F.sum((F.col(decision_col) == "exact_dup").cast("long"))
        .cast("long")
        .alias("n_exact"),
        F.sum((F.col(decision_col) == "near_dup").cast("long"))
        .cast("long")
        .alias("n_near"),
    )
    rate = F.round(
        F.col("n_accept").cast("double") / F.col("n_docs").cast("double"),
        digits,
    ) + F.lit(0.0)
    with_rate = per.select(
        F.col(slice_col),
        "n_docs",
        "n_accept",
        "n_exact",
        "n_near",
        rate.alias("accept_rate"),
    )
    # lag over the slice-count-bounded aggregate (bounded by config)
    w = Window.orderBy(slice_col)
    prev = F.lag("accept_rate").over(w)
    return with_rate.select(
        "*",
        (F.round(F.col("accept_rate") - prev, digits) + F.lit(0.0)).alias(
            "accept_delta"
        ),
    )
