"""Composed corpus-cleaning pipeline for LLM training data.

The standard pretraining pretreatment (C4/RefinedWeb-style), assembled
from this package's primitives into one operator:

1. language filter   (functions.text.lang_id — JVM marker heuristic)
2. quality gate      (functions.text.quality_score >= min_quality)
3. length bounds     (token_count within [min_tokens, max_tokens])
4. exact dedup       (canonical fingerprint; keep the lowest doc id)

Everything is a projection or filter until the final dedup, which is
one window over the normalized-text hash — so the whole pipeline is a
single scan + a single shuffle on the 128-bit fingerprint. At 100 TB
this ordering matters: the cheap filters run scan-side and shrink the
corpus before the only exchange. Near-dup stages (minhash/simhash ->
dup_clusters) slot in after this as separate passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators.caching import ensure_parallelism, iter_checkpoint
from ..operators.windows import bucketed_prefix_sums, range_buckets
from .dedup import _normalized


def score_and_gate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str = "en",
    min_tokens: int = 5,
    max_tokens: int = 5000,
    min_quality: float = 0.2,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The hygiene-gate stage shared by batch ``clean_corpus`` and the
    streaming ``clean_doc_stream``: scan-side scoring projection
    (token count, rounded quality, marker lang-id, 32-char md5
    fingerprint) + the lang/quality/length filter. Pure projections
    and filters — streaming-safe by construction; ``extra_cols``
    carries e.g. an ingest timestamp through for watermarking."""
    scored = docs.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        T.token_count(text_col).alias("n_tokens"),
        F.round(T.quality_score(text_col), 6).alias("quality"),
        T.lang_id(text_col).alias("pred_lang"),
        T.fingerprint(text_col, 32).alias("text_hash"),
    )
    return scored.filter(
        (F.col("pred_lang") == lang)
        & (F.col("quality") >= min_quality)
        & F.col("n_tokens").between(min_tokens, max_tokens)
    )


def clean_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str = "en",
    min_tokens: int = 5,
    max_tokens: int = 5000,
    min_quality: float = 0.2,
) -> DataFrame:
    """Returns (doc_id, n_tokens, quality) for the surviving canonical
    documents, deterministic (quality rounded, min-id canonicalization).
    """
    kept = score_and_gate(
        docs, id_col, text_col, lang, min_tokens, max_tokens, min_quality
    )
    w = Window.partitionBy("text_hash").orderBy(id_col)
    return (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "n_tokens", "quality")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, how many of its
    distinct word n-grams also occur anywhere in ``benchmark`` — the
    standard eval-set-overlap filter a pretraining pipeline runs before
    training (flag, then drop or audit ``contaminated`` docs).

    Returns (id, n_hits, contaminated) for EVERY corpus document.

    100 TB shape: the benchmark side is eval-set-sized (thousands of
    docs, millions of distinct shingles), so its distinct shingle set is
    broadcast — the corpus is scanned once, shingled scan-side WITHOUT a
    dedup shuffle, and probed against the broadcast hash set. Only the
    surviving (matched) shingles — typically a vanishing fraction of the
    corpus — reach the per-doc ``count_distinct`` aggregation, so the
    one corpus-sized exchange most shingle pipelines pay never happens
    here. If the benchmark ever outgrows broadcast range, remove one
    hint and the same plan degrades gracefully to a shuffle join.
    """
    from .dedup import word_shingles

    bench_sh = word_shingles(benchmark, id_col, text_col, n).select("shingle").distinct()
    hits = (
        word_shingles(corpus, id_col, text_col, n, distinct=False)
        .join(F.broadcast(bench_sh), on="shingle")
        .groupBy(id_col)
        .agg(F.count_distinct("shingle").alias("n_hits"))
    )
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0).cast("long"))
    return (
        corpus.select(id_col)
        .join(hits, on=id_col, how="left")
        .select(
            id_col,
            n_hits.alias("n_hits"),
            (n_hits > 0).alias("contaminated"),
        )
    )


def corpus_profile(
    docs: DataFrame,
    group_cols: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-slice corpus statistics — the planning readout behind mixture
    decisions (``sample_mixture`` rates come from exactly this table):

        (group..., n_docs, total_tokens, total_chars, avg_quality)

    One scan, one partial-aggregated shuffle on the (low-cardinality)
    grouping keys; every metric is a built-in column expression.
    """
    group_cols = group_cols or ["source", "lang"]
    # decimal-exact quality mean: an fp AVG is partition-order-dependent
    # in the last bits; summing pre-rounded decimals is exact in any
    # order, and the single double division at the end is deterministic
    q6 = F.round(T.quality_score(text_col), 6).cast("decimal(18,6)")
    return (
        docs.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(T.token_count(text_col)).alias("total_tokens"),
            F.sum(F.length(F.col(text_col)).cast("long")).alias("total_chars"),
            F.round(
                F.sum(q6).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_quality"),
        )
    )


def training_order(
    docs: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 8,
    shard_by_hash: bool = True,
) -> DataFrame:
    """Deterministic global shuffle for training-data writing: assign
    every doc a (shard, position) that is a pure function of its id —
    md5 rank inside a sharded partition, so adjacent input rows (same
    crawl, same source file) decorrelate, every engine/partitioning
    reproduces the same order, and a resumed writer restarts exactly
    where it stopped.

    One exchange on the shard key + one in-partition sort of
    corpus/n_shards rows; no global sort ever happens. Size n_shards so
    a shard's (id, md5) pairs sort comfortably in one task (the docs
    themselves are not sorted — join this back by id at write time).
    ``shard_by_hash=False`` uses id-mod sharding (replayable in any SQL
    engine for certification; hash sharding decorrelates better when
    ids cluster).
    """
    key = (
        F.xxhash64(F.col(id_col)) if shard_by_hash
        else F.col(id_col).cast("long")
    )
    shard = F.pmod(key, F.lit(n_shards)).cast("int")
    w = Window.partitionBy("shard").orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        docs.select(F.col(id_col), shard.alias("shard"))
        .withColumn("position", F.row_number().over(w).cast("long"))
    )


def prepare_pretraining_data(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str = "en",
    mixture_rates: dict[str, int] | None = None,
    lang_col: str = "lang",
    budget: int = 2048,
    n_shards: int = 8,
    shard_by_hash: bool = True,
) -> DataFrame:
    """The composed pretraining data-prep pipeline — the LLM-side analog
    of ``etl.run_etl``, wiring this module's primitives in the order a
    production corpus build runs them:

        1. clean          (lang + quality + length gates, exact dedup)
        2. decontaminate  (drop docs overlapping the benchmark/eval set)
        3. mixture-sample (optional per-language keep rates)
        4. training order (deterministic shard + position)
        5. pack           (concat-and-cut bins of ``budget`` tokens)

    Returns one row per surviving doc:
        (id, n_tokens, quality, shard, position, bin, bin_offset, split)

    Stage order is the cost order: the cheap scan-side gates shrink the
    corpus before the fingerprint shuffle, the (broadcast) benchmark
    probe runs on survivors only, and the shard/pack windows touch the
    final sample. Every stage is individually oracle-certified; the
    composition adds joins on ``id_col`` only.
    """
    from .packing import pack_concat
    from ..operators.sampling import sample_mixture
    from ..operators.caching import track_persist

    # The cleaned survivor table (id, n_tokens, quality — narrow) feeds
    # the contamination gate, the mixture sampler, the ordering window,
    # the packer, and the final joins. Persisting it caps the corpus
    # text at ~2 scans (clean + shingle probe) instead of re-deriving
    # the regex scoring + dedup window once per consumer; tracked so
    # release_persisted() frees it after the job.
    kept = track_persist(clean_corpus(docs, id_col, text_col, lang=lang))

    if benchmark is not None:
        # shingle only the survivors: at corpus scale the clean gates
        # drop a large fraction, and re-shingling rejected docs for the
        # contamination probe would re-scan data already thrown away
        survivors = docs.join(kept.select(id_col), on=id_col, how="left_semi")
        flags = decontaminate(survivors, benchmark, id_col, text_col)
        clean_ids = flags.filter(~F.col("contaminated")).select(id_col)
        kept = kept.join(clean_ids, on=id_col, how="left_semi")

    if mixture_rates is not None:
        sampled = sample_mixture(
            kept.select(id_col, lang_col) if lang_col in kept.columns
            else docs.select(id_col, lang_col).join(
                kept.select(id_col), on=id_col, how="left_semi"),
            lang_col, id_col, mixture_rates,
        ).select(id_col)
        kept = kept.join(sampled, on=id_col, how="left_semi")

    if benchmark is not None or mixture_rates is not None:
        # the gated survivor table is consumed 3x below (ordering window,
        # packer, final join); without this persist each consumer clones
        # the whole gate subtree — including the decontamination shingle
        # explode, the pipeline's most expensive pass — into its own
        # branch (observed: 6 Generate nodes in the optimized plan where
        # a single probe needs 2, and a composed-pipeline bench ~10x the
        # sum of its stages). The table is narrow (id, n_tokens, quality)
        # so at 100 TB this is a vanishing fraction of corpus size.
        kept = track_persist(kept)

    ordered = training_order(
        kept, id_col, n_shards=n_shards, shard_by_hash=shard_by_hash
    )
    packed = pack_concat(
        kept.select(id_col, "n_tokens"), id_col, "n_tokens",
        budget=budget, shards=n_shards, shard_by_hash=shard_by_hash,
    )
    return (
        kept.join(ordered, on=id_col)
        .join(packed.select(id_col, "bin", "bin_offset", "split"), on=id_col)
    )


def budget_select(
    scored: DataFrame,
    token_budget: int,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    quality_col: str = "quality",
    num_buckets: int = 64,
) -> DataFrame:
    """Quality-ranked token-budget selection: keep the highest-quality
    documents whose running token total — in (quality DESC, id ASC)
    order — stays within ``token_budget``. The "best N billion tokens"
    curation step every fixed-budget pretraining run ends with.

    The semantics are a global ordered cumulative sum, but the naive
    ``Window.orderBy(...)`` with no partition funnels the corpus
    through ONE task. Here it is ``windows.bucketed_prefix_sums`` of the
    token counts over range tiles of the negated quality (descending
    order), with no corpus-scale single-partition window.

    Returns (id, tokens, quality, cum_tokens) for the selected docs;
    ``cum_tokens`` is inclusive, so the first doc that would overflow
    the budget is dropped (next-fit, deterministic under the total
    order).
    """
    from ..operators.caching import track_persist

    # persisted: consumed by the bucket-total aggregation AND the final
    # windowed pass — unpersisted, each branch re-scans the corpus (and
    # clones the bounds aggregate), 4 scans where 2 suffice. The table
    # is the caller's narrow (id, tokens, quality) projection + a long.
    bucketed = track_persist(
        range_buckets(scored, -F.col(quality_col).cast("double"), num_buckets)
    )
    return (
        bucketed_prefix_sums(
            bucketed,
            [F.col(quality_col).desc(), F.col(id_col)],
            {"cum_tokens": F.col(token_col)},
        )
        .withColumn("cum_tokens", F.col("cum_tokens").cast("long"))
        .filter(F.col("cum_tokens") <= token_budget)
        .select(id_col, token_col, quality_col, "cum_tokens")
    )


def dsir_weights(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    alpha: float = 0.5,
    digits: int = 6,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, Data Selection via
    Importance Resampling): score every corpus document by how much
    more likely its hashed-unigram bag is under the TARGET distribution
    (e.g. the high-quality or in-domain slice) than under the raw
    corpus —

        lambda(b)   = ln p_target(b) - ln p_raw(b)
        weight(doc) = sum over token occurrences of lambda(bucket(tok))

    with Laplace-``alpha`` smoothing over ``n_buckets`` md5 hash
    buckets. Feed the weights to ``alpha_mixture_rates``/
    ``weighted_sample`` to resample the corpus toward the target.
    Returns (id, n_tokens, dsir_logweight).

    Scale shape: the corpus tokenizes ONCE into (doc, bucket) rows
    (persisted — consumed by the raw counts AND the scoring pass); the
    target tokenizes once for its counts; both collapse to
    ``n_buckets``-row tables whose lambda join back is a broadcast.
    The only data-scale shuffles are the two bucket group-counts and
    the per-doc rollup. md5 bucketing (not xxhash64) so any SQL engine
    replays the identical buckets.
    """
    from ..operators.caching import track_persist

    def buckets(df: DataFrame, with_id: bool) -> DataFrame:
        toks = F.split(_normalized(text_col), " ")
        cols = [F.col(id_col)] if with_id else []
        return (
            ensure_parallelism(df)
            .select(*cols, F.explode(toks).alias("__w__"))
            .select(
                *([id_col] if with_id else []),
                (
                    F.conv(F.substring(F.md5("__w__"), 1, 8), 16, 10)
                    .cast("long")
                    % n_buckets
                ).alias("__b__"),
            )
        )

    corpus_toks = track_persist(buckets(corpus, with_id=True))
    raw = corpus_toks.groupBy("__b__").agg(F.count(F.lit(1)).alias("__cr__"))
    tgt = buckets(target, with_id=False).groupBy("__b__").agg(
        F.count(F.lit(1)).alias("__ct__")
    )
    n_raw = raw.agg(F.sum("__cr__").alias("__nr__"))
    n_tgt = tgt.agg(F.sum("__ct__").alias("__nt__"))
    a, b = F.lit(float(alpha)), F.lit(float(alpha * n_buckets))
    lam = (
        raw.join(tgt, on="__b__", how="left")
        .crossJoin(F.broadcast(n_raw))
        .crossJoin(F.broadcast(n_tgt))
        .select(
            "__b__",
            F.round(
                F.log(
                    (F.coalesce(F.col("__ct__"), F.lit(0)) + a)
                    / (F.coalesce(F.col("__nt__"), F.lit(0)) + b)
                )
                - F.log((F.col("__cr__") + a) / (F.col("__nr__") + b)),
                digits,
            ).alias("__lam__"),
        )
    )
    dec = f"decimal(28,{digits})"
    return (
        corpus_toks.join(F.broadcast(lam), on="__b__")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.sum(F.col("__lam__").cast(dec)).cast("double"), digits).alias(
                "dsir_logweight"
            ),
        )
    )


def contamination_fraction(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-eval-document contamination REPORT: what fraction of each
    eval document's distinct word n-grams appear anywhere in the
    training corpus — the graded companion to ``decontaminate``
    (which drops binary-matched docs; this quantifies partial overlap
    so borderline eval items can be audited instead of silently
    kept/dropped). Returns (id, n_shingles, n_hit, contamination).

    Scale shape: the corpus collapses ONCE to its distinct shingle-
    hash set (the only corpus-scale shuffle); eval shingles (small
    side) join it with a left-semi-style hit flag and roll up per
    document. Hashes, not strings, through the join — the same 64-bit
    contract as the dedup stack.
    """
    from .dedup import _hashed_shingles

    ev = _hashed_shingles(eval_docs, id_col, text_col, n).withColumnRenamed(
        "shingle", "__h__"
    )
    corp = (
        _hashed_shingles(corpus, id_col, text_col, n)
        .select(F.col("shingle").alias("__h__"))
        .distinct()
        .withColumn("__hit__", F.lit(1))
    )
    joined = ev.join(corp, on="__h__", how="left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.coalesce(F.sum("__hit__"), F.lit(0)).cast("long").alias("n_hit"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_shingles"), 6).alias("contamination"),
        )
    )


def word_symbol_table(
    docs: DataFrame, text_col: str = "text", end_mark: str = "</w>"
) -> DataFrame:
    """Word-frequency table with initial BPE symbolization: each
    distinct normalized word with its corpus frequency and its
    character array terminated by ``end_mark`` (the Sennrich et al.
    2016 end-of-word sentinel, so merges cannot cross words).
    Vocab-sized — every BPE iteration runs on THIS table, never on
    the corpus."""
    words = (
        ensure_parallelism(docs)
        .select(F.explode(F.split(_normalized(text_col), " ")).alias("__w__"))
        .filter(F.col("__w__") != "")
        .groupBy("__w__")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    chars = F.filter(F.split(F.col("__w__"), ""), lambda c: c != "")
    return words.select(
        F.col("__w__").alias("word"),
        "freq",
        F.concat(chars, F.array(F.lit(end_mark))).alias("symbols"),
    )


def bpe_pair_counts(state: DataFrame) -> DataFrame:
    """Frequency-weighted adjacent-symbol pair counts over a
    symbolization state — ONE BPE iteration's counting step, exposed
    standalone because it is SQL-expressible and serves as the
    oracle-twinned proxy certifying the machinery the iterative
    ``bpe_train`` loop reuses. Returns (left, right, cnt)."""
    n = F.size("symbols")
    pairs = F.zip_with(
        F.slice("symbols", 1, n - 1),
        F.slice("symbols", 2, n - 1),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )
    return (
        state.filter(n >= 2)
        .select("freq", F.explode(pairs).alias("__p__"))
        .groupBy(
            F.col("__p__")["l"].alias("left"), F.col("__p__")["r"].alias("right")
        )
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 20,
    checkpoint_dir: str | None = None,
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` byte-pair-encoding merges over the corpus
    (Sennrich et al. 2016): repeatedly count frequency-weighted
    adjacent symbol pairs, take the most frequent (ties broken
    lexicographically — fully deterministic), and merge it everywhere
    with standard leftmost-first non-overlapping application.

    The 100 TB shape: the corpus is touched ONCE (the word-frequency
    rollup); all ``n_merges`` iterations run on the vocab-sized symbol
    table. Each iteration is one pair count + one bounded collect of a
    single row (the argmax — the only driver round-trip, k rows total)
    + one fold-based merge apply, with an eager localCheckpoint per
    iteration so plan depth stays constant instead of nesting k
    lambdas. Returns [(rank, left, right, cnt)] — the merge table a
    tokenizer ships.
    """
    state = iter_checkpoint(
        word_symbol_table(docs, text_col), checkpoint_dir
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        top = (
            bpe_pair_counts(state)
            .orderBy(F.desc("cnt"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < 2:
            break
        left, right, cnt = top[0]["left"], top[0]["right"], top[0]["cnt"]
        merges.append((rank, left, right, int(cnt)))
        merged = left + right
        # leftmost-first non-overlapping merge via a fold: append each
        # symbol, collapsing when the accumulator tail is `left` and
        # the incoming symbol is `right`. 'aaa' under (a,a) correctly
        # becomes [aa, a]: after collapsing the first pair the tail is
        # 'aa', which no longer matches.
        apply_merge = F.aggregate(
            F.col("symbols"),
            F.expr("CAST(array() AS array<string>)"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(left))
                & (x == F.lit(right)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        state = iter_checkpoint(
            state.select("word", "freq", apply_merge.alias("symbols")),
            checkpoint_dir,
        )
    return merges


def bpe_encode(
    docs: DataFrame,
    merges: Sequence[tuple[int, str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_every: int = 8,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Apply a learned BPE merge table to a corpus — ``bpe_train``'s
    other half, completing the tokenizer loop (train on one corpus,
    ENCODE any corpus; Sennrich et al. 2016 §3). Returns per document:

        (id, n_words, n_tokens, chars_per_token)

    with n_tokens the BPE symbol count after applying every merge in
    rank order (leftmost-first non-overlapping — the training
    semantics, replayed by the exact pure-Python reference unit).

    Scale shape: merges are applied to the DISTINCT-WORD table only
    (vocab-sized — the corpus is never touched by the merge folds),
    with an eager localCheckpoint every ``checkpoint_every`` merges so
    plan depth stays bounded; documents then join word -> token-count
    (the only fact-scale shuffle) and reduce per doc. Rows-only for
    the driver (the iterative fold has no SQL twin); certified by the
    ``bpe_pairs`` proxy plus the exact reference unit.
    """
    words = (
        ensure_parallelism(docs)
        .select(F.explode(F.split(_normalized(text_col), " ")).alias("__w__"))
        .filter(F.col("__w__") != "")
        .groupBy("__w__")
        .agg(F.count(F.lit(1)).alias("__f__"))
    )
    chars = F.filter(F.split(F.col("__w__"), ""), lambda c: c != "")
    state = words.select(
        "__w__", "__f__",
        F.concat(chars, F.array(F.lit("</w>"))).alias("__sym__"),
    )
    ordered = sorted(merges, key=lambda m: m[0])
    for i, (_, left, right) in enumerate(ordered):
        merged = left + right
        apply_merge = F.aggregate(
            F.col("__sym__"),
            F.expr("CAST(array() AS array<string>)"),
            (
                lambda lv, rv, mv: lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(lv))
                    & (x == F.lit(rv)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.lit(mv)),
                    ),
                ).otherwise(F.concat(acc, F.array(x)))
            )(left, right, merged),
        )
        state = state.select("__w__", "__f__", apply_merge.alias("__sym__"))
        if (i + 1) % checkpoint_every == 0:
            state = iter_checkpoint(state, checkpoint_dir)
    word_tokens = state.select(
        "__w__",
        F.size("__sym__").alias("__nt__"),
        (F.length("__w__") + F.lit(4)).alias("__nc__"),  # incl. </w>
    )
    per_doc_words = (
        docs.select(
            F.col(id_col),
            F.explode(F.split(_normalized(text_col), " ")).alias("__w__"),
        )
        .filter(F.col("__w__") != "")
    )
    return (
        per_doc_words.join(word_tokens, on="__w__")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("__nt__").cast("long").alias("n_tokens"),
            F.round(
                F.sum("__nc__").cast("double") / F.sum("__nt__").cast("double"),
                6,
            ).alias("chars_per_token"),
        )
    )


def mixture_plan(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    alpha: float = 0.5,
    target_frac: float = 0.5,
    digits: int = 6,
) -> DataFrame:
    """Mixture PLANNING table for temperature (alpha) sampling: per
    slice, the document and token inventory, the data-derived
    ``alpha_mixture_rates`` keep-rate (the same 65536-cell quantized
    rate ``sample_alpha_mixture`` executes), and the expected document
    and token yield under that rate. ``sample_alpha_mixture`` answers
    "which rows survive"; this answers the question that comes FIRST —
    what does alpha do to my token budget per slice — without
    materializing a single sampled row.

    Scale shape: ONE corpus scan — token counts fold into the same
    low-cardinality groupBy that feeds the rate computation (via
    ``alpha_mixture_rates_from_counts``), so there is no second scan
    and no re-join on the slice key. This also keeps a NULL-group
    slice in the plan: a NULL key survives a groupBy but would be
    silently dropped by a null-unsafe equality join. Expected yields
    use the exact integer rate (rate_65536/65536) so both engines run
    the identical arithmetic.
    """
    from ..operators.sampling import alpha_mixture_rates_from_counts

    counts = docs.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T.token_count(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    rates = alpha_mixture_rates_from_counts(
        counts, group_col, alpha=alpha, target_frac=target_frac
    )
    rate = F.col("rate_65536").cast("double") / F.lit(65536.0)
    return (
        rates.select(
            group_col,
            "n_docs",
            "n_tokens",
            "rate_65536",
            F.round(rate, digits).alias("rate"),
            F.round(F.col("n_docs").cast("double") * F.col("rate_65536").cast("double") / F.lit(65536.0), 2)
            .alias("exp_docs"),
            F.round(F.col("n_tokens").cast("double") * F.col("rate_65536").cast("double") / F.lit(65536.0), 2)
            .alias("exp_tokens"),
        )
    )


def shard_plan(
    docs: DataFrame,
    shard_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 256,
) -> DataFrame:
    """Output-shard planning: assign documents — in deterministic
    ``id_col`` order — to fixed-token-budget shards, and report each
    shard's document and token load. The last step of every corpus
    build: training jobs want shards of roughly equal TOKEN count (not
    doc count or byte size), and the assignment must be reproducible
    (a rerun that shuffles differently but shards identically).

    A document lands in the shard containing its START offset:
    ``shard_id = floor((cum_tokens_inclusive - n_tokens) /
    shard_tokens)`` — integer arithmetic, so both engines agree
    exactly. Shards can slightly overflow (a doc straddling a boundary
    stays in the shard it started in), which is the standard
    concat-and-cut convention.

    Scale shape: the global ordered cumulative sum is
    ``windows.bucketed_prefix_sums`` of the token counts over id range
    tiles. No corpus-wide single-partition sort.

    Returns (shard_id, n_docs, n_tokens), one row per shard.
    """
    from ..operators.caching import track_persist

    if shard_tokens <= 0:
        raise ValueError("shard_tokens must be positive")
    toks = docs.select(
        F.col(id_col), T.token_count(F.col(text_col)).cast("long").alias("__nt__")
    )
    bucketed = track_persist(range_buckets(toks, F.col(id_col), num_buckets))
    assigned = (
        bucketed_prefix_sums(bucketed, [id_col], {"__cum__": F.col("__nt__")})
        .select(
            id_col,
            "__nt__",
            # exact LONG integer division (`div`), not double `/` +
            # floor: the double path loses exactness once cumulative
            # tokens exceed 2^53 (~9e15) — the very range a 100 TB
            # corpus shard planner operates in. The DuckDB twin uses
            # `//`; both engines now do exact integer arithmetic.
            F.expr(f"(__cum__ - __nt__) div {int(shard_tokens)}")
            .cast("long")
            .alias("shard_id"),
        )
    )
    return assigned.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__nt__").cast("long").alias("n_tokens"),
    )


def ingest_drift(
    ledger: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    lang_col: str | None = "lang",
    n_bins: int = 10,
    digits: int = 6,
    id_col: str | None = None,
    sample_hex: str | None = None,
) -> DataFrame:
    """Ingest-distribution drift monitor — the daily corpus-intake
    health check that pairs with ``incremental_dedup``: dedup decides
    per-document admission; THIS decides whether the incoming batch is
    still the distribution the mixture/budget plans were built on.
    Three topline PSI read-outs against the ledger:

    - ``quality``: the certified quality_score distribution (rounded
      to ``digits`` BEFORE binning so both engines bin identical
      values), ledger-decile bins via ``population_stability``;
    - ``tokens``: whitespace token-count distribution, same machinery;
    - ``lang``: categorical language-share PSI with the same
      Laplace-0.5 smoothing, K = observed categories across both
      sides (the category table is lang-vocabulary-bounded).

    NULL-text docs are excluded (they carry no signal for any of the
    three metrics). Returns one row per metric: (metric, psi, status)
    with the standard thresholds (< 0.1 stable, < 0.25 shifting, else
    drifted). Scale shape: ONE scan-side projection per side, one
    1-row exact-percentile aggregate per numeric metric (broadcast
    edges, no per-row join), n_bins- / vocabulary-bounded aggregates
    after — the only unpartitioned windows run over those bounded
    tables.

    Measured cost is compute-proportional (alpha ~ 0.96 sf1 -> sf10:
    the quality regexp scan + the exact-percentile state are both
    linear in rows — BENCH_SCALE2_R14NEW2.json), which is the correct
    EXACT shape but the wrong 100 TB default for a daily monitor. The
    scale path is ``sample_hex``: a deterministic md5 hash sample of
    BOTH sides (doc kept when substr(md5(id), 3, 2) < sample_hex —
    byte offset 3 so the sample is independent of the repo's
    substr(..., 1, 2) batch/ledger split convention), fully
    SQL-replayable like embed_clip_bounds_approx's sampled
    percentiles. PSI over an unbiased sample of both sides estimates
    the same shift; e.g. sample_hex='28' keeps ~16%.
    """
    from ..ml.stats import population_stability
    from ..operators.caching import track_persist

    if sample_hex is not None and id_col is None:
        raise ValueError("sample_hex requires id_col (the hash-sample key)")

    def proj(df: DataFrame) -> DataFrame:
        lang = F.col(lang_col) if lang_col else T.lang_id(text_col)
        if sample_hex is not None:
            df = df.filter(
                F.substring(F.md5(F.col(id_col).cast("string")), 3, 2)
                < sample_hex
            )
        return df.filter(F.col(text_col).isNotNull()).select(
            F.round(T.quality_score(F.col(text_col)), digits).alias("quality"),
            T.token_count(F.col(text_col)).cast("double").alias("tokens"),
            F.coalesce(lang, F.lit("__null__")).alias("lang"),
        )

    led = track_persist(proj(ledger))
    bat = track_persist(proj(batch))
    parts = []
    for metric in ("quality", "tokens"):
        ps = population_stability(led, bat, metric, n_bins=n_bins, digits=digits)
        parts.append(
            ps.agg(F.round(F.sum("psi_term"), digits).alias("psi")).select(
                F.lit(metric).alias("metric"), "psi"
            )
        )
    lc = led.groupBy("lang").agg(F.count(F.lit(1)).alias("n_base"))
    bc = bat.groupBy("lang").agg(F.count(F.lit(1)).alias("n_cur"))
    joined = lc.join(bc, on="lang", how="full_outer").select(
        "lang",
        F.coalesce("n_base", F.lit(0).cast("long")).alias("n_base"),
        F.coalesce("n_cur", F.lit(0).cast("long")).alias("n_cur"),
    )
    # window over the category table — bounded by the lang vocabulary
    w = Window.partitionBy()
    k = F.count(F.lit(1)).over(w).cast("double")
    p = (F.col("n_base") + 0.5) / (
        F.sum("n_base").over(w).cast("double") + 0.5 * k
    )
    q = (F.col("n_cur") + 0.5) / (
        F.sum("n_cur").over(w).cast("double") + 0.5 * k
    )
    lang_terms = joined.select(
        F.round((q - p) * F.log(q / p), digits).alias("t")
    )
    parts.append(
        lang_terms.agg(F.round(F.sum("t"), digits).alias("psi")).select(
            F.lit("lang").alias("metric"), "psi"
        )
    )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    status = (
        F.when(F.col("psi") < 0.1, F.lit("stable"))
        .when(F.col("psi") < 0.25, F.lit("shifting"))
        .otherwise(F.lit("drifted"))
    )
    return out.select(
        "metric",
        (F.col("psi") + F.lit(0.0)).alias("psi"),
        status.alias("status"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    digits: int = 6,
) -> DataFrame:
    """Per-source diff of two corpus/ledger snapshots — the audit log
    between maintenance runs: after a day of admission
    (``incremental_dedup``), compaction (``ledger_compaction``), and
    re-ingest, WHAT actually changed? Per source: documents added
    (id only in new), removed (id only in old), content-changed (same
    id, different normalized-text fingerprint), retained-same, and
    the churn rate — (added + removed + changed) / old-snapshot size,
    NULL when the source had no old rows (a brand-new source is all
    churn by definition; the NULL keeps the division honest under
    ANSI). NULL-text rows compare null-safely: NULL == NULL content
    counts as same, NULL vs text as changed. A document whose source
    attribute itself changed is attributed to its NEW source (the
    coalesce convention).

    Returns (source, n_old, n_new, n_added, n_removed, n_changed,
    n_same, churn_rate), one row per source.

    Scale shape: ONE full-outer join on the id key (both sides
    project to (id, fingerprint, source) first — scan-side column
    pruning), then one groupBy source over the joined table; both
    shuffles linear, no windows, no collects.
    """
    fp = F.md5(_normalized(text_col))
    o = old.select(
        F.col(id_col).alias("__id__"),
        fp.alias("__ofp__"),
        F.col(source_col).alias("__osrc__"),
        F.lit(1).alias("__in_old__"),
    )
    n = new.select(
        F.col(id_col).alias("__id__"),
        fp.alias("__nfp__"),
        F.col(source_col).alias("__nsrc__"),
        F.lit(1).alias("__in_new__"),
    )
    j = o.join(n, on="__id__", how="full_outer")
    status = (
        F.when(F.col("__in_old__").isNull(), F.lit("added"))
        .when(F.col("__in_new__").isNull(), F.lit("removed"))
        .when(F.col("__ofp__").eqNullSafe(F.col("__nfp__")), F.lit("same"))
        .otherwise(F.lit("changed"))
    )
    tagged = j.select(
        F.coalesce("__nsrc__", "__osrc__").alias("source"),
        status.alias("__st__"),
        F.coalesce("__in_old__", F.lit(0)).alias("__in_old__"),
        F.coalesce("__in_new__", F.lit(0)).alias("__in_new__"),
    )
    agg = tagged.groupBy("source").agg(
        F.sum("__in_old__").cast("long").alias("n_old"),
        F.sum("__in_new__").cast("long").alias("n_new"),
        F.sum((F.col("__st__") == "added").cast("long")).cast("long").alias("n_added"),
        F.sum((F.col("__st__") == "removed").cast("long")).cast("long").alias("n_removed"),
        F.sum((F.col("__st__") == "changed").cast("long")).cast("long").alias("n_changed"),
        F.sum((F.col("__st__") == "same").cast("long")).cast("long").alias("n_same"),
    )
    churn = F.when(
        F.col("n_old") > 0,
        F.round(
            (F.col("n_added") + F.col("n_removed") + F.col("n_changed")).cast(
                "double"
            )
            / F.col("n_old").cast("double"),
            digits,
        )
        + F.lit(0.0),
    )
    return agg.select("*", churn.alias("churn_rate"))
