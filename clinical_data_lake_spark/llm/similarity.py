"""Similarity search over an embedding column (array<float>).

- ``cosine_topk`` — brute-force exact top-k: broadcast the (small)
  query set against the corpus, cosine via zip_with/aggregate (pure
  column expressions, codegen'd), per-query top-k via window rank.
  The corpus side is a single scan — this is the exact baseline and
  is already the right plan when |queries| is small.
- ``lsh_topk`` — the scale path: random-hyperplane LSH buckets
  (sign bits of dot products with seeded random planes). Queries only
  compare against corpus vectors sharing a bucket -> the shuffle key
  is the bucket id and work is linear in corpus size. Recall < 1,
  tunable via bits/tables.
- ``ivf_topk`` — IVF-style: k-means-lite centroid assignment
  (seeded sample as centroids), probe the nearest ``nprobe`` cells.

All double-precision arithmetic with deterministic (sequential)
folds, so results are reproducible and oracle-comparable.
"""

from __future__ import annotations

import random

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.caching import ensure_parallelism, track_persist


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right fold — deterministic fp result."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _guarded_ratio(num: Column, denom: Column) -> Column:
    """0.0 instead of an ANSI DIVIDE_BY_ZERO when the denominator is 0:
    a zero-norm (all-zero) embedding has undefined cosine, and "similar
    to nothing" is the behavior every consumer here wants. At corpus
    scale a zero vector (failed embedder, padded row) is inevitable —
    it must not sink the whole job."""
    return F.when(denom > 0.0, num / denom).otherwise(F.lit(0.0))


def cosine(a: Column, b: Column) -> Column:
    return _guarded_ratio(dot(a, b), l2_norm(a) * l2_norm(b))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Exact brute-force cosine top-k.

    (query_id, neighbor_id, rnk, sim); self-pairs excluded; ties broken
    by neighbor id. The query side is broadcast — the corpus is
    scanned once, no shuffle until the per-query top-k (a window over
    query_id, k rows per query survive the rank filter).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qe"),
        l2_norm(_as_double(vec_col)).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("ce"),
        l2_norm(_as_double(vec_col)).alias("cn"),
    )
    sim = _guarded_ratio(dot(F.col("qe"), F.col("ce")), F.col("qn") * F.col("cn"))
    pairs = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("sim_raw"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim_raw"), F.asc("neighbor_id"))
    out_sim = F.round("sim_raw", round_to) if round_to is not None else F.col("sim_raw")
    return (
        pairs.select("query_id", "neighbor_id", out_sim.alias("sim"),
                     F.row_number().over(w).cast("long").alias("rnk"))
        .filter(F.col("rnk") <= k)
        .drop("sim_raw")
    )


def cosine_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= threshold, id_a < id_b.

    All-pairs within the corpus — use only after blocking (or on a
    bounded corpus); ``lsh_buckets`` provides the blocking at scale.
    """
    a = corpus.select(F.col(id_col).alias("vec_a"), _as_double(vec_col).alias("ea"),
                      l2_norm(_as_double(vec_col)).alias("na"))
    b = corpus.select(F.col(id_col).alias("vec_b"), _as_double(vec_col).alias("eb"),
                      l2_norm(_as_double(vec_col)).alias("nb"))
    sim = _guarded_ratio(dot(F.col("ea"), F.col("eb")), F.col("na") * F.col("nb"))
    out_sim = F.round(sim, round_to) if round_to is not None else sim
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", out_sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def cosine_dup_pairs_lsh(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.9,
    tables: int = 64,
    bits: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Near-duplicate pairs via multi-table LSH blocking + exact cosine
    verification on candidates — the 100 TB shape for ``cosine_dup_pairs``.

    OR-construction: ``tables`` independent random-hyperplane tables of
    ``bits`` sign bits each; any pair sharing a (table, bucket) becomes
    a candidate, then exact cosine filters to >= threshold. Recall for a
    pair at cosine s is 1-(1-(1-acos(s)/pi)^bits)^tables: > 0.996 at
    s = 0.90 and > 0.999996 at s >= 0.95 with the defaults, while an
    unrelated pair (s~0) collides with probability tables/2^bits ~ 1e-3
    — the blocking actually blocks, unlike few-bit configs whose buckets
    admit half the corpus. Deterministic per seed.

    Plan shape: bucket ids for all tables come from ONE numpy matmul
    per Arrow batch ((rows x dim) @ (dim x tables*bits) sign-packed) —
    a pandas UDF is the right tool here; 1024 plane dots as Catalyst
    expressions would blow up codegen. Candidates then travel as bare
    id pairs (arrays dropped before the join — a hot bucket would
    otherwise shuffle |bucket|^2 vector copies), are deduped, and the
    embeddings re-join once per unique pair for exact verification.
    The shuffle key is (table, bucket): linear in corpus + candidates,
    no all-pairs join ever materializes.
    """
    from pyspark.sql.functions import pandas_udf

    n_tables, n_bits, p_seed, p_dim = tables, bits, seed, dim

    @pandas_udf("array<long>")
    def bucket_ids(vecs: pd.Series) -> pd.Series:
        # self-contained (no module refs): planes regenerated per worker
        # from the seed — deterministic, nothing shipped but the closure
        import numpy as np

        rng = np.random.default_rng(p_seed)
        planes = rng.standard_normal((p_dim, n_tables * n_bits))
        weights = (1 << np.arange(n_bits, dtype=np.int64))
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        signs = (mat @ planes >= 0).reshape(len(vecs), n_tables, n_bits)
        ids = (signs * weights).sum(axis=2).astype(np.int64)
        return pd.Series(list(ids))

    # v is read three times (banding + both verification sides) and
    # banded twice (self-join) — persist so the scan+norm and the
    # pandas-UDF bucket matmul each run once. Both are per-vector-sized
    # (vectors+norm; 8B x tables bucket rows), safe to cache at scale.
    v = track_persist(
        corpus.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("e"),
                      l2_norm(_as_double(vec_col)).alias("nrm"))
    )
    banded = track_persist(
        v.select("id", F.posexplode(bucket_ids(F.col("e"))).alias("tbl", "bkt"))
    )
    cand = (
        banded.select(F.col("id").alias("vec_a"), "tbl", "bkt")
        .join(banded.select(F.col("id").alias("vec_b"), "tbl", "bkt"),
              on=["tbl", "bkt"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    ea = v.select(F.col("id").alias("vec_a"), F.col("e").alias("ea"),
                  F.col("nrm").alias("na"))
    eb = v.select(F.col("id").alias("vec_b"), F.col("e").alias("eb"),
                  F.col("nrm").alias("nb"))
    sim = _guarded_ratio(dot(F.col("ea"), F.col("eb")), F.col("na") * F.col("nb"))
    out_sim = F.round(sim, round_to) if round_to is not None else sim
    return (
        cand.join(ea, on="vec_a").join(eb, on="vec_b")
        .select("vec_a", "vec_b", out_sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def _md5_sample_centroids(
    corpus: DataFrame,
    n_cells: int,
    seed: int,
    id_col: str,
    vec_col: str,
) -> list[list[float]]:
    """The deterministic engine-portable centroid sample ``ivf_topk``
    defaults to: the ``n_cells`` corpus vectors with the smallest
    md5("seed:id"), ties by id. A TakeOrdered of a bounded handful of
    rows (n_cells x dim floats regardless of corpus size) — md5, not
    xxhash64, so any SQL engine reproduces the same centroid set and
    ordering verbatim (cell k = position k in this order)."""
    h = F.md5(
        F.concat_ws(":", F.lit(seed).cast("string"), F.col(id_col).cast("string"))
    )
    rows = (
        corpus.select(
            _as_double(vec_col).alias("e"), h.alias("h"), F.col(id_col).alias("i")
        )
        .orderBy("h", "i")
        .limit(n_cells)
        .collect()
    )
    return [list(r["e"]) for r in rows]


def _cells_udf(centroids: list[list[float]], n: int):
    """Arrow-batched nearest-cell assignment against a fixed centroid
    matrix: normalize both sides, one numpy matmul per batch, argsort
    descending cosine — returns the ``n`` nearest cell indices per
    vector. Shared by ``ivf_topk`` and ``ivf_admission_audit`` so the
    assignment semantics the oracles replay stay single-sourced."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def cells(vecs: pd.Series) -> pd.Series:
        import numpy as np

        cent = np.asarray(centroids, dtype=np.float64)  # closure by value
        cent = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ cent.T
        # stable sort so exact cosine ties resolve to the LOWEST cell
        # index — the oracles break ties by ascending cell (ORDER BY
        # cos DESC, cell), and duplicate/zero vectors sampled as
        # centroids would otherwise diverge from the DuckDB twin
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n].astype(np.int32)
        return pd.Series(list(order))

    return cells


def ivf_admission_audit(
    base: DataFrame,
    batch: DataFrame,
    n_cells: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    digits: int = 6,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Incremental ANN index maintenance — the similarity twin of
    ``incremental_dedup``: new embeddings are ADMITTED into an EXISTING
    IVF index (centroids sampled from the BASE corpus and deliberately
    left stale — production never re-fits per batch), and the per-cell
    occupancy drift is the re-fit trigger: a batch whose distribution
    has drifted piles into few cells, degrading both balance (hot
    probe cells) and recall (queries probe cells that no longer match
    the data's modes).

    Per cell: base occupancy, admitted-batch occupancy, each side's
    SHARE of its own corpus, and the share drift (share_new -
    share_base). A large positive drift = the new data concentrates
    where the old index is thin; sustained drift across batches = time
    to re-fit (``fit_ivf_centroids``) and re-assign.

    Scale shape: ONE assignment pass over base ∪ batch (the same
    Arrow-batched numpy matmul ``ivf_topk`` uses, n_cells x dim
    broadcast in the closure), one groupBy cell; the share window runs
    over the n_cells-row aggregate — bounded by construction. The
    centroid sample is md5-deterministic from BASE only, so the oracle
    rebuilds cells verbatim.

    Returns (cell, n_base, n_new, share_base, share_new, share_drift),
    one row per non-empty cell. ``centroids`` lets a caller that
    already holds the deterministic sample (``ivf_refit_policy``)
    skip the redundant base-corpus sampling job.
    """
    if centroids is None:
        centroids = _md5_sample_centroids(base, n_cells, seed, id_col, vec_col)
    assign1 = _cells_udf(centroids, 1)
    tagged = base.select(
        _as_double(vec_col).alias("__e__"), F.lit(0).alias("__new__")
    ).unionByName(
        batch.select(_as_double(vec_col).alias("__e__"), F.lit(1).alias("__new__"))
    )
    per = (
        tagged.select(
            F.element_at(assign1(F.col("__e__")), 1).alias("cell"), "__new__"
        )
        .groupBy("cell")
        .agg(
            F.sum((F.col("__new__") == 0).cast("long")).alias("n_base"),
            F.sum(F.col("__new__").cast("long")).alias("n_new"),
        )
    )
    # totals over the n_cells-row aggregate: a single-partition window
    # over <= n_cells rows, bounded by construction
    w = Window.partitionBy(F.lit(1))
    tb = F.sum("n_base").over(w).cast("double")
    tn = F.sum("n_new").over(w).cast("double")
    share_b = F.round(_guarded_ratio(F.col("n_base").cast("double"), tb), digits)
    share_n = F.round(_guarded_ratio(F.col("n_new").cast("double"), tn), digits)
    return per.select(
        "cell",
        "n_base",
        "n_new",
        (share_b + F.lit(0.0)).alias("share_base"),
        (share_n + F.lit(0.0)).alias("share_new"),
        (F.round(share_n - share_b, digits) + F.lit(0.0)).alias("share_drift"),
    )


def ivf_recall_drift(
    queries: DataFrame,
    base: DataFrame,
    grown: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Recall-drift audit for an INCREMENTALLY GROWN IVF index — the
    second half of the index-maintenance story ``ivf_admission_audit``
    starts: centroids are sampled from the BASE corpus and left stale
    while the corpus grows to ``grown`` (base + admitted batches); the
    fixed probe set's recall@k against brute force is measured on BOTH
    corpus states with the SAME stale centroids. Recall that holds on
    base but sags on grown = the admitted data lands where the old
    cells probe poorly — re-fit time (``fit_ivf_centroids``), even if
    occupancy drift alone looked benign.

    Scale shape: two exact brute-force passes (the probe set is small
    and broadcast — the certified cosine_topk plan) + two IVF probes
    against the same stale centroid matrix; everything downstream of
    the per-query top-k lists is k-bounded. md5-deterministic
    centroids (from base ONLY) keep every step SQL-replayable.

    Returns one row per probe query: (query_id, n_hit_base,
    recall_base, n_hit_grown, recall_grown, recall_drift).
    ``centroids`` lets a caller that already holds the deterministic
    sample (``ivf_refit_policy``) skip the redundant sampling job.
    """
    if centroids is None:
        centroids = _md5_sample_centroids(base, n_cells, seed, id_col, vec_col)
    qids = queries.select(F.col(id_col).alias("query_id"))
    per_phase = {}
    for phase, corpus in (("base", base), ("grown", grown)):
        exact = cosine_topk(queries, corpus, k=k, id_col=id_col, vec_col=vec_col)
        approx = ivf_topk(
            queries,
            corpus,
            k=k,
            n_probe=n_probe,
            id_col=id_col,
            vec_col=vec_col,
            centroids=centroids,
        )
        per_phase[phase] = recall_at_k(
            exact.select("query_id", "neighbor_id"),
            approx.select("query_id", "neighbor_id"),
            qids,
            k=k,
        ).select(
            "query_id",
            F.col("n_hit").alias(f"n_hit_{phase}"),
            F.col("recall").alias(f"recall_{phase}"),
        )
    return (
        per_phase["base"]
        .join(per_phase["grown"], on="query_id")
        .select(
            "query_id",
            "n_hit_base",
            "recall_base",
            "n_hit_grown",
            "recall_grown",
            (F.col("recall_grown") - F.col("recall_base")).alias("recall_drift"),
        )
    )


def fit_ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    max_iter: int = 10,
) -> list[list[float]]:
    """Lloyd-refined IVF cells via spark.ml KMeans — the quality
    upgrade over ``ivf_topk``'s default deterministic-sample centroids
    when the corpus actually clusters: cells align with the data's
    modes, so a query's n_probe nearest cells capture far more of its
    true neighbors at the same probe budget.

    Vectors are L2-normalized before fitting (Euclidean k-means on the
    unit sphere ~ spherical k-means — the right objective for cosine
    retrieval; the assignment UDF re-normalizes centroids anyway).
    Seeded and iteration-capped. Returns plain python centroids to
    pass as ``ivf_topk(..., centroids=...)``.

    Certification note: KMeans|| init randomness is seeded but
    implementation-internal, so these centroids are NOT SQL-replayable
    — exactness of the ivf machinery itself is certified centroid-
    agnostically by the full-coverage twin (``ann_ivf_exact``), and
    centroid QUALITY by the planted-cluster recall unit test.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    v = _as_double(vec_col)
    unit = F.transform(v, lambda x: x / l2_norm(v))
    train = corpus.select(array_to_vector(unit).alias("features"))
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(train)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: corpus vectors are assigned to their
    nearest of ``n_cells`` centroid cells; each query probes only its
    ``n_probe`` nearest cells, so the comparison volume is roughly
    n_probe/n_cells of brute force and the shuffle key is the cell id.

    Centroids are a deterministic corpus sample: the ``n_cells`` vectors
    with the smallest md5("seed:id") — a TakeOrdered of a bounded
    handful of rows, collected to the driver to be baked into the
    assignment UDF (the one bounded collect in this module; the matrix
    is n_cells x dim floats regardless of corpus size). md5 (not
    xxhash64) so any SQL engine reproduces the same centroid set —
    ``ann_recall``'s DuckDB twin rebuilds the cells verbatim.
    Assignment is one numpy matmul per Arrow batch. Recall depends on
    how well cells capture the data's clustering; raise ``n_probe`` to
    trade cost for recall (n_probe == n_cells degenerates to exact
    brute force).
    """
    if centroids is None:
        centroids = _md5_sample_centroids(corpus, n_cells, seed, id_col, vec_col)
    else:
        n_cells = len(centroids)
        n_probe = min(n_probe, n_cells)

    assign1 = _cells_udf(centroids, 1)
    assign_probe = _cells_udf(centroids, n_probe)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("ce"),
        l2_norm(_as_double(vec_col)).alias("cn"),
        F.element_at(assign1(_as_double(vec_col)), 1).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qe"),
        l2_norm(_as_double(vec_col)).alias("qn"),
        F.explode(assign_probe(_as_double(vec_col))).alias("cell"),
    )
    sim = _guarded_ratio(dot(F.col("qe"), F.col("ce")), F.col("qn") * F.col("cn"))
    pairs = (
        q.join(c, on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        pairs.select("*", F.row_number().over(w).cast("long").alias("rnk"))
        .filter(F.col("rnk") <= k)
    )


def _random_planes(dim: int, bits: int, seed: int) -> list[list[float]]:
    rnd = random.Random(seed)
    return [[rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def lsh_buckets(
    df: DataFrame,
    dim: int,
    bits: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Random-hyperplane (sign) LSH bucket id per vector.

    The planes are seeded literals baked into the plan (arrays of
    doubles), so bucketing is a pure projection — no fitting job, no
    state, deterministic across runs and engines.
    """
    # r16: ONE SQL expr string parsed JVM-side instead of 512 F.lit
    # calls + 8 interpreted F.aggregate folds — the Column route cost
    # ~1.0 s of driver time per call (measured, 2 calls per lsh_topk),
    # and the HOF fold evaluated interpreted per row. The generated
    # chain `0.0D + v[0]*p0 + v[1]*p1 + ...` is the identical
    # left-associated fp order the aggregate fold produced; repr()
    # doubles round-trip exactly through the SQL parser. Semantics for
    # malformed vectors preserved: old zip_with padded with NULLs so
    # any size mismatch or NULL element nullified the dot and the bit
    # was 0 — the size guard + NULL propagation below does the same
    # (and keeps ANSI from raising on out-of-range indexes).
    # the cast array is projected ONCE into a bound column (a bound
    # reference is free to re-reference; the inline cast is not), and
    # each plane keeps the ORIGINAL zip_with + aggregate fold — an
    # unrolled v[j]*p_j chain was A/B'd 30-50% SLOWER per row than the
    # fold it replaced (512 getItem bound/null checks beat one array
    # allocation, apparently not) — so the runtime plan is the exact
    # r9 shape; only the CONSTRUCTION route changed.
    # the temp column's name must not collide with an input or the
    # output column, which the final drop would otherwise silently
    # remove (column resolution is case-insensitive by default)
    taken = {c.lower() for c in (*df.columns, bucket_col)}
    vv = "__lshv__"
    while vv in taken:
        vv += "_"
    terms = []
    for i, plane in enumerate(_random_planes(dim, bits, seed)):
        lits = ", ".join(f"{x!r}D" for x in plane)
        d = (
            f"aggregate(zip_with({vv}, array({lits}), (x, y) -> x * y), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        bit = (
            f"(CASE WHEN {d} >= 0.0D THEN CAST(1 AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
        terms.append(f"shiftleft({bit}, {i})")
    # bits=0 (full coverage: one bucket) leaves no terms — plain zero
    bucket = "CAST(0 AS BIGINT)" + "".join(f" + {t}" for t in terms)
    return (
        df.withColumn(vv, _as_double(vec_col))
        .withColumn(bucket_col, F.expr(bucket))
        .drop(vv)
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: compare only within shared LSH buckets.

    Shuffle key = bucket id -> linear scale-out; recall depends on
    bits (fewer bits = bigger buckets = higher recall & cost).
    """
    qb = lsh_buckets(queries, dim, bits, seed, vec_col).select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qe"), "bucket"
    )
    cb = lsh_buckets(corpus, dim, bits, seed, vec_col).select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("ce"), "bucket"
    )
    sim = cosine(F.col("qe"), F.col("ce"))
    pairs = (
        qb.join(cb, on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        pairs.select("*", F.row_number().over(w).cast("long").alias("rnk"))
        .filter(F.col("rnk") <= k)
    )


def pq_centroids(
    corpus: DataFrame,
    k_cent: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic PQ codebook source: the ``k_cent`` corpus vectors
    with the smallest md5("seed:id") — the same bounded TakeOrdered
    sample ``ivf_topk`` uses, so any SQL engine rebuilds the identical
    codebook (subspace j of centroid c is just a slice of vector c).
    At scale the collect is k_cent x dim floats, independent of corpus
    size."""
    h = F.md5(
        F.concat_ws(":", F.lit(seed).cast("string"), F.col(id_col).cast("string"))
    )
    rows = (
        corpus.select(
            _as_double(vec_col).alias("e"), h.alias("h"), F.col(id_col).alias("i")
        )
        .orderBy("h", "i")
        .limit(k_cent)
        .collect()
    )
    return [list(r["e"]) for r in rows]


def _chain_sum(terms):
    """Left-associated sum of Column terms — the same IEEE evaluation
    order a SQL engine gives `t1 + t2 + ... + tn`, so oracle twins can
    reproduce the doubles bit-for-bit."""
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _subdist_col(vec_col: Column, cent_col: Column, offset: int, d_sub: int) -> Column:
    """Squared L2 between aligned subvectors of two array columns
    (1-based ``offset``), as a fixed left-associated chain."""
    terms = []
    for t in range(d_sub):
        d = F.element_at(vec_col, offset + t + 1) - F.element_at(
            cent_col, offset + t + 1
        )
        terms.append(d * d)
    return _chain_sum(terms)


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    m: int = 8,
    k_cent: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011) with asymmetric
    distance computation, expressed entirely in codegen'd column
    expressions — no UDF anywhere:

    1. ENCODE: each corpus vector becomes ``m`` one-byte codes, the
       argmin centroid per subspace (``array_min`` over
       struct(dist, c) — deterministic (d, c) tiebreak). At 100 TB
       this is the point: the corpus is scanned once and reduced to
       m bytes/vector; the original vectors never enter the search.
    2. LUT: each QUERY row precomputes its m x k_cent table of
       subspace distances once (queries are few; the heavy expression
       runs per query row, not per pair).
    3. ADC: a pair's approximate distance is the m-way left-assoc sum
       of LUT entries picked by the corpus codes — one array index +
       one add per subspace per pair.

    Codebook determinism: centroids come from ``pq_centroids`` (md5
    TakeOrdered), so the driver's DuckDB oracle replays encode + LUT +
    ADC verbatim — unlike trained-KMeans IVF, PQ here is fully
    SQL-certifiable. Returns (query_id, neighbor_id, adist, rnk) for
    the top ``k`` by (adist, neighbor_id)."""
    if centroids is None:
        centroids = pq_centroids(corpus, k_cent, seed, id_col, vec_col)
    k_cent = len(centroids)
    dim = len(centroids[0])
    if dim % m:
        raise ValueError(f"pq_topk: dim {dim} not divisible by m {m}")
    d_sub = dim // m

    # One giant argmin expression per code column blows the codegen
    # method limit (measured: Janino compile failure -> interpreted
    # fallback at 8x16x8 = 1024 terms). Instead join each vector
    # against the k_cent (c, centroid) rows — m x d_sub terms per
    # joined row stays comfortably codegen'd — and take the
    # per-subspace argmin as a min(struct(d, c)) aggregate (same
    # (d, c) tiebreak order as the SQL twin's row_number).
    #
    # r16: the centroid rows ride a BROADCAST 16-row DataFrame instead
    # of the r9 literal array-of-structs expression. The 1024-literal
    # tree sat inside BOTH the corpus and the query plan, and every
    # DataFrame operation re-ran the analyzer over it — 2.4 s of the
    # query's 3.2 s wall was DRIVER-side plan construction (profiled;
    # executor task-time was 0.4 s). The cross join produces the
    # identical rows (same Python doubles, same (c, ce) fields), so
    # every downstream distance/argmin is bit-unchanged.
    cent_df = F.broadcast(
        queries.sparkSession.createDataFrame(
            [(c, [float(x) for x in centroids[c]]) for c in range(k_cent)],
            "c int, ce array<double>",
        )
    )

    def _dists(df: DataFrame, out_id: str) -> DataFrame:
        ex = df.select(
            F.col(id_col).alias(out_id),
            _as_double(vec_col).alias("__v__"),
        ).crossJoin(cent_df)
        dcols = [
            _subdist_col(
                F.col("__v__"), F.col("ce"), j * d_sub, d_sub
            ).alias(f"__d{j}__")
            for j in range(m)
        ]
        return ex.select(out_id, F.col("c").alias("__c__"), *dcols)

    codes = (
        _dists(corpus, "neighbor_id")
        .groupBy("neighbor_id")
        .agg(
            *[
                F.min(F.struct(F.col(f"__d{j}__").alias("d"), F.col("__c__").alias("c")))[
                    "c"
                ].alias(f"__code{j}__")
                for j in range(m)
            ]
        )
    )
    # LUT arrays indexed by c (sort_array orders the (c, d...) structs
    # by c; 16-element arrays, so the interpreted transform is noise)
    qd = _dists(queries, "query_id")
    q = (
        qd.groupBy("query_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("__c__").alias("c"),
                        *[F.col(f"__d{j}__").alias(f"d{j}") for j in range(m)],
                    )
                )
            ).alias("__rows__")
        )
        .select(
            "query_id",
            # note the closure: a two-param lambda would make
            # F.transform pass the ELEMENT INDEX as the second arg
            *[
                F.transform(
                    F.col("__rows__"), (lambda jj: lambda x: x[f"d{jj}"])(j)
                ).alias(f"__lut{j}__")
                for j in range(m)
            ],
        )
    )

    adist = _chain_sum(
        [
            F.element_at(F.col(f"__lut{j}__"), F.col(f"__code{j}__") + 1)
            for j in range(m)
        ]
    )
    pairs = codes.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id", adist.alias("adist"))
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    return (
        pairs.select("*", F.row_number().over(w).cast("long").alias("rnk"))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id", "neighbor_id", F.round(F.col("adist"), 6).alias("adist"), "rnk"
        )
    )


def maxabs_scale(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """1-row DataFrame holding the corpus-wide max |component| — the
    symmetric-quantization scale. A full-scan agg that reduces to one
    double; join it back with a broadcast cross-join (never collect)."""
    return df.agg(
        F.max(F.array_max(F.transform(_as_double(vec_col), F.abs))).alias("__scale__")
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "q_embedding",
    scale_df: DataFrame | None = None,
) -> DataFrame:
    """Symmetric int8 scalar quantization: q = floor(x * 127 / scale),
    scale = corpus max |x| (or a precomputed ``scale_df``, so queries
    and corpus share one codebook). The quantized column is what you
    persist at 100 TB — 4x smaller scans than float32, and integer
    dot products are exact in double arithmetic, so downstream
    similarity is bit-reproducible (no float-summation-order drift).
    All-zero scale (empty/degenerate corpus) quantizes to all zeros
    instead of dividing by zero."""
    scale_df = maxabs_scale(df, vec_col) if scale_df is None else scale_df
    scale = F.col("__scale__")
    q = F.transform(
        _as_double(vec_col),
        lambda x: F.when(scale > 0.0, F.floor(x * 127.0 / scale)).otherwise(F.lit(0)),
    )
    return (
        df.crossJoin(F.broadcast(scale_df))
        .withColumn(q_col, q)
        .drop("__scale__")
    )


def quantized_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Brute-force cosine top-k over int8-quantized vectors — the
    memory-bound variant of ``cosine_topk`` for 100 TB embedding
    stores. One shared scale (from the corpus side) quantizes both
    sides; the ranking then runs the exact ``cosine_topk`` plan on the
    quantized arrays. Integer components make every dot product exact,
    so the result is deterministic to the last bit."""
    scale = maxabs_scale(corpus, vec_col)
    qq = quantize_embeddings(queries, vec_col, "__q__", scale).select(
        id_col, F.col("__q__").alias(vec_col)
    )
    qc = quantize_embeddings(corpus, vec_col, "__q__", scale).select(
        id_col, F.col("__q__").alias(vec_col)
    )
    return cosine_topk(qq, qc, k=k, id_col=id_col, vec_col=vec_col, round_to=round_to)


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str,
    rank_col: str = "rnk",
    k: int = 60,
    top: int = 20,
    digits: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings — the standard
    hybrid-search combiner (lexical BM25 + dense cosine, the two
    halves this package certifies separately):

        rrf(d) = sum over lists containing d of 1 / (k + rank_d)

    ``ranked_a``/``ranked_b`` carry (id, rank) with rank 1 = best;
    documents absent from a list simply contribute nothing (the
    defining robustness of RRF — no score normalization across
    incomparable scales). Returns the fused top ``top``:
    (id, rank_a, rank_b, rrf), deterministic via id tiebreak.

    Scale shape: inputs are top-K lists (bounded by construction — the
    candidate generators already did the corpus-scale work), so the
    outer join and the final ordered limit run on 2K rows.
    """
    a = ranked_a.select(F.col(id_col), F.col(rank_col).alias("rank_a"))
    b = ranked_b.select(F.col(id_col), F.col(rank_col).alias("rank_b"))
    contrib_a = F.when(
        F.col("rank_a").isNotNull(), F.lit(1.0) / (F.lit(float(k)) + F.col("rank_a"))
    ).otherwise(F.lit(0.0))
    contrib_b = F.when(
        F.col("rank_b").isNotNull(), F.lit(1.0) / (F.lit(float(k)) + F.col("rank_b"))
    ).otherwise(F.lit(0.0))
    return (
        a.join(b, on=id_col, how="full_outer")
        .select(
            id_col,
            "rank_a",
            "rank_b",
            F.round(contrib_a + contrib_b, digits).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), id_col)
        .limit(top)
    )


def class_prototypes(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    digits: int = 6,
) -> DataFrame:
    """Per-class prototype (centroid) embeddings, emitted in exploded
    (label, pos, mean) form — the class-prototype primitive behind
    nearest-centroid classification, SemDeDup-style semantic pruning,
    and labeled-cluster quality checks.

    Per-dimension means accumulate in DECIMAL(27,18) (doubles convert
    to 18-dp decimals identically in any engine; sums associate), so
    prototypes are bit-reproducible across partitionings — one
    posexplode + one (label, pos) groupBy, map-side combined. Rows
    with NULL labels are excluded.
    """
    per_dim = (
        embeddings.filter(F.col(label_col).isNotNull())
        .select(F.col(label_col), F.posexplode(_as_double(vec_col)).alias("pos", "val"))
        .groupBy(label_col, "pos")
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(27,18)")).cast("double")
                / F.count(F.lit(1)),
                digits,
            ).alias("mean")
        )
    )
    return per_dim.select(label_col, F.col("pos").cast("int").alias("pos"), "mean")


def prototype_vectors(per_dim: DataFrame, label_col: str = "label") -> DataFrame:
    """Assemble ``class_prototypes``' exploded table back into
    (label, proto array<double>) — the broadcastable form
    ``nearest_prototype`` consumes."""
    return per_dim.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean"))), lambda s: s["mean"]
        ).alias("proto")
    )


def nearest_prototype(
    embeddings: DataFrame,
    protos: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 6,
) -> DataFrame:
    """Nearest-centroid classification: each vector gets the label of
    its highest-cosine class prototype — (id, pred_label, sim), ties
    broken by label ascending.

    The prototype table (|classes| rows) broadcasts; the corpus is
    scanned once and the argmax window partitions by the vector id
    (|classes| rows per partition). The standard embedding-space
    labeling pass — also the assignment step of SemDeDup-style
    semantic dedup when the "classes" are cluster centroids.
    """
    c = embeddings.select(
        F.col(id_col), _as_double(vec_col).alias("ce"),
        l2_norm(_as_double(vec_col)).alias("cn"),
    )
    p = protos.select(
        F.col(label_col).alias("pred_label"), F.col("proto"),
        l2_norm(F.col("proto")).alias("pn"),
    )
    sim = _guarded_ratio(dot(F.col("ce"), F.col("proto")), F.col("cn") * F.col("pn"))
    w = Window.partitionBy(id_col).orderBy(F.desc("__s__"), F.asc("pred_label"))
    return (
        c.crossJoin(F.broadcast(p))
        .select(id_col, "pred_label", sim.alias("__s__"))
        .withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select(id_col, "pred_label", F.round("__s__", round_to).alias("sim"))
    )


def semantic_dedup(
    corpus: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.95,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding-space semantic
    deduplication end to end — cluster the corpus into cells, find
    high-cosine pairs WITHIN each cell only, and keep one
    representative (min id) per connected duplicate group. Returns the
    SURVIVING (id, cell) rows — the filtered corpus membership.

    Composition of certified pieces: deterministic md5-sample
    centroids (``ivf_topk``'s rule, SQL-replayable), broadcast-argmax
    cell assignment (the ``nearest_prototype`` shape), within-cell
    exact cosine pairs (the all-pairs comparison never crosses a cell
    — the quadratic term is (corpus/n_cells)^2 per cell, the whole
    point of SemDeDup), connected components + min-id canonical
    (``dup_clusters`` / ``near_dedup_canonical``).

    Swap the md5 centroids for ``fit_ivf_centroids`` (KMeans) on
    clustered corpora — assignment/dedup machinery is centroid-
    agnostic; the md5 rule is what makes this composition
    oracle-checkable.

    ``target_cell_size``: when set, the cell count scales with the
    corpus — n_cells = max(n_cells, ceil(N / target_cell_size)) — the
    paper's own k-grows-with-N practice (Abbas et al. run 50k clusters
    on LAION). A FIXED cell count is the er_pipeline fixed-blocking
    mistake in embedding space: per-cell population grows with N and
    the within-cell pair term grows N²/n_cells — measured at the
    sf1→sf10 decade, 16 fixed cells inflated 26s → 1585s (α ≈ 1.78).
    With the cap, within-cell work is bounded at ~target_cell_size per
    row, so total pair work is N × target_cell_size — linear. Costs
    one bounded count() pre-pass to size the cell grid.
    """
    from .dedup import near_dedup_canonical

    if target_cell_size:
        n_rows = corpus.count()
        n_cells = max(n_cells, -(-n_rows // int(target_cell_size)))

    h = F.md5(
        F.concat_ws(":", F.lit(seed).cast("string"), F.col(id_col).cast("string"))
    )
    # centroid matrix is bounded (n_cells x dim) — a TakeOrdered
    # collect baked into the assignment UDF, ivf_topk's contract
    cent_rows = (
        corpus.select(
            _as_double(vec_col).alias("cv"), h.alias("__h__"),
            F.col(id_col).alias("__i__"),
        )
        .orderBy("__h__", "__i__")
        .limit(n_cells)
        .collect()
    )
    cent_list = [list(r["cv"]) for r in cent_rows]

    # Vectorized argmax-cosine assignment (one numpy matmul per Arrow
    # batch; ties -> lowest cell, matching ORDER BY sim DESC, cell ASC;
    # zero-norm vectors score 0 everywhere -> cell 0, the guarded-ratio
    # contract). The r11 crossJoin + row_number form materialized
    # N x n_cells rows CARRYING THE FULL EMBEDDING ARRAYS through a
    # per-id window sort — measured 1085s at sf10 with scaled cells
    # (80M x ~0.5KB rows spilling); this is N rows in, N rows out.
    from pyspark.sql.functions import pandas_udf

    def _make_best_cell(cl: list[list[float]]):
        @pandas_udf("int")
        def best_cell(vecs: pd.Series) -> pd.Series:
            import numpy as np

            cent = np.asarray(cl, dtype=np.float64)
            cnorm = np.maximum(np.linalg.norm(cent, axis=1), 1e-300)
            mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
            vnorm = np.linalg.norm(mat, axis=1)
            sims = (mat @ cent.T) / np.outer(np.maximum(vnorm, 1e-300), cnorm)
            sims[vnorm == 0.0, :] = 0.0
            return pd.Series(np.argmax(sims, axis=1).astype("int32"))

        return best_cell

    # referenced three times below (both pair-join sides + the final
    # membership table) — persist so the scan + assignment UDF run once
    assigned = track_persist(
        corpus.select(
            F.col(id_col), _as_double(vec_col).alias("ce"),
            l2_norm(_as_double(vec_col)).alias("cn"),
            _make_best_cell(cent_list)(_as_double(vec_col)).alias("cell"),
        )
    )
    a = assigned.select(
        F.col(id_col).alias("doc_a"), F.col("ce").alias("ea"),
        F.col("cn").alias("na"), "cell",
    )
    b = assigned.select(
        F.col(id_col).alias("doc_b"), F.col("ce").alias("eb"),
        F.col("cn").alias("nb"), "cell",
    )
    pair_sim = _guarded_ratio(dot(F.col("ea"), F.col("eb")), F.col("na") * F.col("nb"))
    pairs = (
        a.join(b, on="cell")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", pair_sim.alias("__ps__"))
        .filter(F.col("__ps__") >= F.lit(float(threshold)))
        .select("doc_a", "doc_b")
    )
    return near_dedup_canonical(assigned.select(id_col, "cell"), pairs, id_col=id_col)


def knn_classify(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN majority-vote classification: exact cosine top-k against
    the labeled corpus (broadcast query side — corpus scanned once),
    then one (query, label) vote count and a deterministic winner pick
    (votes desc, label asc). Returns (query_id, pred_label, votes).

    The workhorse for label propagation over an embedded corpus —
    weak-label expansion, split-leakage checks, pseudo-labeling
    unlabeled slices from a curated seed set."""
    labeled = corpus.filter(F.col(label_col).isNotNull())
    topk = cosine_topk(queries, labeled, k, id_col, vec_col)
    labels = labeled.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__lbl__")
    )
    votes = (
        topk.join(F.broadcast(labels), on="neighbor_id")
        .groupBy("query_id", "__lbl__")
        .agg(F.count(F.lit(1)).cast("long").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("__lbl__"))
    return (
        votes.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select("query_id", F.col("__lbl__").alias("pred_label"), "votes")
    )


def silhouette_simplified(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    digits: int = 6,
) -> DataFrame:
    """Simplified silhouette per label (centroid-based, the scalable
    variant every clustering library offers): for each point,
    a = squared L2 to its OWN class centroid, b = min squared L2 to
    any OTHER class centroid, s = (b - a) / max(a, b); report the
    per-label mean and count. The labeled-cluster quality read-out —
    separation per class, mislabeled-slice detection — without the
    O(n²) pair matrix of true silhouette.

    Determinism: centroids are ``class_prototypes``' round-6 means;
    per-dimension squared residuals accumulate as DECIMAL(27,18)
    (sums associate), and the per-point scores average through
    DECIMAL(18,12) — no float merge-order anywhere. One posexplode,
    one broadcast join on dimension, two groupBys.
    """
    protos = class_prototypes(embeddings, label_col, vec_col).select(
        F.col(label_col).alias("__plbl__"), "pos", "mean"
    )
    base = embeddings.filter(F.col(label_col).isNotNull())
    if "vec_id" not in embeddings.columns:
        # Assign the id in its OWN select: ExtractGenerator hoists a
        # non-generator expression sharing a select with posexplode
        # ABOVE the Generate, so an id minted alongside the explode
        # would differ per (point, dimension) row — every point would
        # look like d one-dimensional points.
        base = base.withColumn("vec_id", F.monotonically_increasing_id())
    # the posexplode inflates rows ~dim x and the broadcast join below
    # multiplies them again by the label count (measured: the
    # per-(point, label) residual aggregate ran 3.5 s on ONE task at
    # sf0.1). A fallback id is minted before the floor, so it stays
    # unique per point and only ever groups that point's own rows.
    pts = ensure_parallelism(base).select(
        "vec_id",
        F.col(label_col),
        F.posexplode(_as_double(vec_col)).alias("pos", "val"),
    )
    term = (
        (F.col("val") - F.col("mean")) * (F.col("val") - F.col("mean"))
    ).cast("decimal(27,18)")
    d = (
        pts.join(F.broadcast(protos), on="pos")
        .groupBy("vec_id", label_col, "__plbl__")
        .agg(F.sum(term).alias("__d__"))
    )
    per_point = d.groupBy("vec_id", label_col).agg(
        F.min(F.when(F.col("__plbl__") == F.col(label_col), F.col("__d__"))).alias(
            "__a__"
        ),
        F.min(F.when(F.col("__plbl__") != F.col(label_col), F.col("__d__"))).alias(
            "__b__"
        ),
    )
    a, b = F.col("__a__").cast("double"), F.col("__b__").cast("double")
    s = F.when(F.greatest(a, b) <= 0.0, F.lit(0.0)).otherwise(
        (b - a) / F.greatest(a, b)
    )
    return (
        per_point.select(
            F.col(label_col), s.cast("decimal(18,12)").alias("__s__")
        )
        .groupBy(label_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.round(
                F.sum("__s__").cast("double") / F.count(F.lit(1)), digits
            ).alias("mean_silhouette"),
        )
    )


def hard_negatives(
    anchors: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the ``k`` most-similar corpus vectors with a DIFFERENT label — the
    near-boundary examples that make a contrastive batch informative
    (easy negatives teach nothing; these are the ones the model
    confuses). Returns (anchor_id, negative_id, sim, rnk).

    Plan: the label filter composes INTO the ranking, not after it —
    a same-label neighbor must not consume a rank slot — so the
    window ranks only cross-label pairs. The anchor side broadcasts
    and the corpus is scanned once (the cosine_topk recipe); at
    corpus scale feed anchors in shards or LSH-bucket first.
    """
    labeled = corpus.filter(F.col(label_col).isNotNull())
    a = anchors.filter(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("__la__"),
        _as_double(vec_col).alias("qe"),
        l2_norm(_as_double(vec_col)).alias("qn"),
    )
    c = labeled.select(
        F.col(id_col).alias("negative_id"),
        F.col(label_col).alias("__lc__"),
        _as_double(vec_col).alias("ce"),
        l2_norm(_as_double(vec_col)).alias("cn"),
    )
    sim = _guarded_ratio(dot(F.col("qe"), F.col("ce")), F.col("qn") * F.col("cn"))
    pairs = c.join(
        F.broadcast(a),
        (F.col("anchor_id") != F.col("negative_id"))
        & (F.col("__la__") != F.col("__lc__")),
    ).select("anchor_id", "negative_id", sim.alias("__sim__"))
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("__sim__"), F.asc("negative_id")
    )
    return (
        pairs.select(
            "anchor_id",
            "negative_id",
            F.round("__sim__", 6).alias("sim"),
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= k)
    )


def pool_embeddings(
    chunks: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    weight_col: str | None = None,
    normalize: bool = True,
    round_to: int = 9,
) -> DataFrame:
    """Mean-pool chunk/member embeddings into one vector per group —
    the standard doc-from-chunks (or class-from-members) pooling step
    of a RAG/curation pipeline; ``class_prototypes``' general form
    with optional weights and L2 renormalization. One row per group:

        (group, n_members, embedding)

    Per-dimension accumulation follows the certified prototype
    discipline: (group, dim)-keyed decimal sums of ROUNDED
    contributions — partition-invariant, no float merge-order.
    Weighted pooling uses sum(w*v)/sum(w); NULL/zero total weight
    yields no row (documented). ``normalize=True`` rescales the pooled
    vector to unit L2 (zero vectors stay zero).

    Scale shape: one posexplode + (group, dim) aggregate (the only
    fact-scale shuffle, map-side combinable), one (group)-keyed
    collect of the DIM-bounded vector via array_agg over a sorted
    struct — no driver collect, no window over fact rows.
    """
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    exploded = chunks.select(
        F.col(group_col).alias("__g__"),
        w.alias("__w__"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias(
            "__d__", "__v__"
        ),
    )
    per_dim = exploded.groupBy("__g__", "__d__").agg(
        F.sum(
            F.round(F.col("__w__") * F.col("__v__"), 12).cast("decimal(38,12)")
        ).alias("__sv__"),
        F.sum(F.round(F.col("__w__"), 12).cast("decimal(38,12)")).alias(
            "__sw__"
        ),
    )
    mean = F.round(
        F.col("__sv__").cast("double") / F.col("__sw__").cast("double"),
        round_to,
    )
    vecs = (
        per_dim.filter(F.col("__sw__").cast("double") > 0)
        .select("__g__", F.struct("__d__", mean.alias("__m__")).alias("__s__"))
        .groupBy("__g__")
        .agg(
            F.transform(
                F.array_sort(F.collect_list("__s__")), lambda s: s["__m__"]
            ).alias("__vec__")
        )
    )
    members = chunks.groupBy(F.col(group_col).alias("__g__")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    if normalize:
        nrm = F.sqrt(
            F.aggregate(
                F.col("__vec__"),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            )
        )
        out_vec = F.when(
            nrm > 0,
            F.transform(F.col("__vec__"), lambda x: F.round(x / nrm, round_to)),
        ).otherwise(F.col("__vec__"))
    else:
        out_vec = F.col("__vec__")
    return (
        vecs.join(members, on="__g__")
        .select(
            F.col("__g__").alias(group_col),
            "n_members",
            out_vec.alias("embedding"),
        )
    )


def cosine_topk_filtered(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    filter_col: str = "label",
    round_to: int = 6,
) -> DataFrame:
    """Filtered exact cosine top-k — nearest neighbors WITHIN the
    query's own filter value (label / tenant / language): the
    metadata-filtered retrieval every production vector search needs,
    expressed as the filter composed INTO the join predicate so
    Catalyst prunes non-matching pairs before any similarity math
    (the ``hard_negatives`` lesson applied to the positive case).

    (query_id, neighbor_id, rnk, sim) — self-pairs excluded, ties by
    neighbor id; queries broadcast, corpus scanned once, per-query
    window keeps k.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qe"),
        F.col(filter_col).alias("qf"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("ce"),
        F.col(filter_col).alias("cf"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qe"), F.col("ce"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    qn = F.sqrt(
        F.aggregate(F.col("qe"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    cn = F.sqrt(
        F.aggregate(F.col("ce"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    sim = F.when(qn * cn > 0, dot / (qn * cn)).otherwise(F.lit(0.0))
    pairs = c.join(
        F.broadcast(q),
        (F.col("qf").eqNullSafe(F.col("cf")))
        & (F.col("query_id") != F.col("neighbor_id")),
    ).select("query_id", "neighbor_id", sim.alias("sim_raw"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim_raw"), F.asc("neighbor_id")
    )
    return (
        pairs.select(
            "query_id", "neighbor_id",
            F.round("sim_raw", round_to).alias("sim"),
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= k)
    )


def kmeans_lloyd_step(
    embeddings: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    digits: int = 6,
) -> DataFrame:
    """ONE exact Lloyd iteration from md5-deterministic seeds — the
    SQL-certifiable single-step proxy for the spark.ml KMeans training
    behind ``fit_ivf_centroids`` (the bpe_pairs/bpe_merges certification
    pattern: the iterative trainer is rows-only, its per-iteration
    counting step is oracle-twinned): seeds are the ``k`` vectors with
    the smallest md5(id) (order-identical hex in any engine), every
    point assigns to its nearest seed by squared L2 (sequential
    left-to-right fold — deterministic fp, replayed verbatim by the
    twin), and the step emits the UPDATED centroids in exploded
    (cluster, n_members, inertia, pos, mean) form with per-dimension
    DECIMAL(27,18) means (the ``class_prototypes`` convention).

    Scale shape: the k seed vectors broadcast (k bounded); the corpus
    is touched once for assignment (n x k distance terms, never a
    corpus self-join) and once more as the exploded (cluster, pos)
    mean aggregate — the exact per-iteration cost profile of
    distributed Lloyd at any scale.
    """
    pts = embeddings.select(
        F.col(id_col).alias("__id__"), _as_double(vec_col).alias("__v__")
    ).filter(F.col("__v__").isNotNull())
    seeds = (
        pts.withColumn("__h__", F.md5(F.col("__id__").cast("string")))
        .orderBy("__h__", "__id__")
        .limit(int(k))
        .select(
            F.col("__id__").alias("__sid__"), F.col("__v__").alias("__c__")
        )
    )
    # d2 = <v,v> - 2<v,c> + <c,c>: three sequential left-to-right dot
    # folds — the exact chain DuckDB's list_dot_product replays (the
    # ann_cosine_topk certification idiom); a zip-and-square fold has
    # no bit-replayable DuckDB twin
    v, c = F.col("__v__"), F.col("__c__")
    d2 = dot(v, v) - 2.0 * dot(v, c) + dot(c, c)
    assigned = (
        pts.crossJoin(F.broadcast(seeds))
        .select(
            "__id__",
            "__v__",
            "__sid__",
            F.round(d2, 9).alias("__d2__"),
        )
        .groupBy("__id__")
        .agg(
            F.min(F.struct(F.col("__d2__"), F.col("__sid__"))).alias("__b__"),
            F.first("__v__").alias("__v__"),
        )
        .select(
            "__id__",
            "__v__",
            F.col("__b__.__sid__").alias("cluster"),
            F.col("__b__.__d2__").alias("__d2__"),
        )
    )
    from ..operators.caching import track_persist as _tp

    assigned = _tp(assigned)
    stats = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.round(
            F.sum(F.col("__d2__").cast("decimal(28,9)")).cast("double"),
            digits,
        ).alias("inertia"),
    )
    per_dim = (
        assigned.select("cluster", F.posexplode("__v__").alias("pos", "val"))
        .groupBy("cluster", "pos")
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(27,18)")).cast("double")
                / F.count(F.lit(1)),
                digits,
            ).alias("mean")
        )
    )
    return stats.join(per_dim, on="cluster").select(
        "cluster",
        "n_members",
        (F.col("inertia") + F.lit(0.0)).alias("inertia"),
        F.col("pos").cast("int").alias("pos"),
        (F.col("mean") + F.lit(0.0)).alias("mean"),
    )


def embedding_quality(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    digits: int = 6,
) -> DataFrame:
    """Per-class embedding-health audit — the pre-flight check before
    any ANN/SemDeDup/nearest-centroid run trusts the vectors: for each
    label, the member count, the mean L2 norm (collapsed or exploded
    norms signal a broken encoder or missing normalization), and the
    mean cosine of members to their class centroid (compactness — a
    class whose members don't agree with their own prototype will
    misbehave under nearest-centroid routing and cell-based dedup).

    Returns (label, n_members, mean_norm, mean_cos). Centroids are the
    ``class_prototypes`` decimal-exact means (rounded 6, broadcast
    back); per-row norms and cosines are sequential left-to-right dot
    folds rounded to 9 and decimal-summed, so the audit is
    partition-invariant and SQL-replayable.

    Scale shape: one posexplode pass for the centroids, one
    broadcast-join scan for the per-row scores, one final groupBy —
    the corpus is touched twice, never self-joined.
    """
    pv = prototype_vectors(class_prototypes(embeddings, label_col, vec_col),
                           label_col)
    base = embeddings.filter(F.col(label_col).isNotNull()).select(
        F.col(label_col), _as_double(vec_col).alias("__v__")
    )
    joined = base.join(F.broadcast(pv), on=label_col)
    v, c = F.col("__v__"), F.col("proto")
    norm = F.round(l2_norm(v), 9)
    # the guarded cosine: zero-norm members (failed embedder rows)
    # score 0, they must not ANSI-error the audit
    cos = F.round(cosine(v, c), 9)
    d = "decimal(28,9)"
    agg = joined.groupBy(label_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum(norm.cast(d)).alias("__sn__"),
        F.sum(cos.cast(d)).alias("__sc__"),
    )
    nn = F.col("n_members").cast("double")
    return agg.select(
        label_col,
        "n_members",
        (
            F.round(F.col("__sn__").cast("double") / nn, digits) + F.lit(0.0)
        ).alias("mean_norm"),
        (
            F.round(F.col("__sc__").cast("double") / nn, digits) + F.lit(0.0)
        ).alias("mean_cos"),
    )


def embedding_dim_stats(
    emb: DataFrame,
    vec_col: str = "embedding",
    digits: int = 6,
) -> DataFrame:
    """Per-DIMENSION embedding health profile: for every vector
    position, the count, mean, variance, zero fraction, and min/max of
    that coordinate across the corpus. The dimension-level audit that
    catches dead dimensions (zero variance — wasted index width),
    collapsed/duplicated axes (near-zero variance), un-centered
    dimensions (|mean| >> 0 distorts cosine after quantization), and
    clipped activations (min/max walls) BEFORE the embedding column is
    trusted by ANN / SemDeDup / quantization — the per-dimension
    sibling of ``embedding_quality``'s per-class audit.

    Scale shape: one posexplode (N x d rows, the standard long-form
    vector shape) into ONE dimension-keyed aggregate — d is tiny, so
    the shuffle is d partitions of partial aggregates; no windows, no
    joins. Partitioning-invariant arithmetic: coordinate sums fold in
    decimal(27,18) (order-free addition), divisions happen once in
    doubles on the driver-visible aggregate outputs, results round to
    ``digits`` with the -0.0 -> +0.0 normalization the oracle twins
    rely on. Min/max of float32-widened doubles are exact in both
    engines.
    """
    exd = (
        emb.filter(F.col(vec_col).isNotNull())
        .select(F.posexplode(F.col(vec_col)).alias("pos", "__v__"))
        .select("pos", F.col("__v__").cast("double").alias("v"))
    )
    agg = exd.groupBy("pos").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("v").cast("decimal(27,18)")).alias("__s__"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(27,18)")).alias("__s2__"),
        F.sum(F.when(F.col("v") == 0.0, 1).otherwise(0))
        .cast("long")
        .alias("__z__"),
        F.min("v").alias("min_val"),
        F.max("v").alias("max_val"),
    )
    m = F.col("__s__").cast("double") / F.col("n").cast("double")
    e2 = F.col("__s2__").cast("double") / F.col("n").cast("double")
    return agg.select(
        F.col("pos").cast("int").alias("pos"),
        "n",
        (F.round(m, digits) + F.lit(0.0)).alias("mean_val"),
        (F.round(e2 - m * m, digits) + F.lit(0.0)).alias("var_val"),
        (
            F.round(
                F.col("__z__").cast("double") / F.col("n").cast("double"), digits
            )
            + F.lit(0.0)
        ).alias("zero_frac"),
        "min_val",
        "max_val",
    )


def embedding_norm_profile(
    emb: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    unit_tol: float = 1e-3,
    dead_tol: float = 1e-6,
    digits: int = 6,
) -> DataFrame:
    """Per-group VECTOR-norm health profile: count, mean/min/max L2
    norm, the fraction of near-zero ("dead") vectors, and the fraction
    already unit-normalized. The per-vector sibling of
    ``embedding_dim_stats``: cosine similarity silently degenerates on
    zero vectors and mixed-norm corpora (dot products stop being
    cosines), so this is the gate before any ANN / SemDeDup /
    quantization consumer trusts ``vec_col``.

    Scale shape: long-form posexplode into an id-keyed decimal(27,18)
    sum of squares (order-free addition, same as the certified
    dim-stats plan), one sqrt per vector, then a group-keyed rollup
    whose norm sums fold as round-14 decimals. No windows, no joins,
    no collects; divisions happen once per group row in doubles.
    """
    exd = (
        emb.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col),
            F.col(group_col),
            F.explode(F.col(vec_col)).alias("__v__"),
        )
        .select(
            id_col,
            group_col,
            F.col("__v__").cast("double").alias("__v__"),
        )
    )
    per_vec = exd.groupBy(id_col, group_col).agg(
        F.sum((F.col("__v__") * F.col("__v__")).cast("decimal(27,18)")).alias(
            "__ss__"
        )
    )
    norm = F.sqrt(F.col("__ss__").cast("double"))
    vecs = per_vec.select(
        group_col,
        norm.alias("__norm__"),
        F.round(norm, 14).cast("decimal(28,14)").alias("__normd__"),
    )
    n = F.count(F.lit(1)).cast("long")
    n_dead = F.sum((F.col("__norm__") < dead_tol).cast("long")).cast("long")
    n_unit = F.sum(
        (F.abs(F.col("__norm__") - 1.0) <= unit_tol).cast("long")
    ).cast("long")
    return vecs.groupBy(group_col).agg(
        n.alias("n_vectors"),
        (
            F.round(F.sum("__normd__").cast("double") / n.cast("double"), digits)
            + F.lit(0.0)
        ).alias("mean_norm"),
        (F.round(F.min("__norm__"), digits) + F.lit(0.0)).alias("min_norm"),
        (F.round(F.max("__norm__"), digits) + F.lit(0.0)).alias("max_norm"),
        F.round(n_dead.cast("double") / n.cast("double"), digits).alias(
            "dead_frac"
        ),
        F.round(n_unit.cast("double") / n.cast("double"), digits).alias(
            "unit_frac"
        ),
    )


def embedding_clip_bounds(
    emb: DataFrame,
    vec_col: str = "embedding",
    lower: float = 0.01,
    upper: float = 0.99,
    digits: int = 6,
) -> DataFrame:
    """Per-dimension quantile CLIP bounds for quantization calibration:
    the exact interpolated [lower, upper] percentiles of every vector
    coordinate, plus the fraction of values falling outside them. The
    calibration table that makes int8 quantization robust — a single
    outlier coordinate otherwise sets ``quantize_embeddings``'s
    max-|x| scale and crushes the other 99.99% of mass into a few
    codes; clipping to e.g. [p1, p99] first is the standard fix
    (outlier-aware calibration in the quantization literature).

    Scale shape: the long-form posexplode (N x d) into ONE
    dimension-keyed exact-percentile aggregate (d rows out), then one
    broadcast join back to count clipped values. Bounds are rounded to
    ``digits`` BEFORE the clip comparison so both engines classify
    borderline values identically (the winsorize convention).
    """
    exd = (
        emb.filter(F.col(vec_col).isNotNull())
        .select(F.posexplode(F.col(vec_col)).alias("pos", "__v__"))
        .select("pos", F.col("__v__").cast("double").alias("v"))
    )
    exd = track_persist(exd)
    bounds = exd.groupBy("pos").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.round(F.percentile("v", F.lit(float(lower))), digits) + F.lit(0.0))
        .alias("p_lo"),
        (F.round(F.percentile("v", F.lit(float(upper))), digits) + F.lit(0.0))
        .alias("p_hi"),
    )
    clipped = (
        exd.join(F.broadcast(bounds.select("pos", "p_lo", "p_hi")), on="pos")
        .groupBy("pos")
        .agg(
            F.sum(
                ((F.col("v") < F.col("p_lo")) | (F.col("v") > F.col("p_hi")))
                .cast("long")
            ).alias("__nc__")
        )
    )
    return (
        bounds.join(clipped, on="pos")
        .select(
            F.col("pos").cast("int").alias("pos"),
            "n",
            "p_lo",
            "p_hi",
            F.round(
                F.col("__nc__").cast("double") / F.col("n").cast("double"),
                digits,
            ).alias("clip_frac"),
        )
    )


def embedding_clip_bounds_sampled(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lower: float = 0.01,
    upper: float = 0.99,
    n_256: int = 64,
    digits: int = 6,
) -> DataFrame:
    """The 100 TB-default variant of ``embedding_clip_bounds``: clip
    bounds estimated from a DETERMINISTIC hash-sample of coordinate
    values (exact interpolated percentile over the sample), with the
    clipped fraction still counted over the FULL data at those bounds.

    ``embedding_clip_bounds`` runs an exact percentile over all N*d
    coordinate values — compute-proportional by design (~24s at sf10
    locally), which at 100 TB makes the percentile aggregate the whole
    job. Calibration does not need exact corpus percentiles: a p1/p99
    estimate from an unbiased sample moves the bound by O(1/sqrt(m))
    quantile mass, far below the quantization tolerance it feeds. This
    variant keeps the percentile input at ``n_256/256`` of the
    coordinates (default 1/4; at 100 TB you'd run 1/256) while the
    cheap single-scan clip count stays exact, so ``clip_frac`` reports
    the TRUE clipped mass at the sampled bounds.

    Sampling is the repo's engine-portable convention — md5 prefix of
    ``id:pos`` under ``n_256/256`` of hash space — so membership is a
    pure function of the data (partitioning-independent, and the
    DuckDB oracle replays it bit-exactly; ``approx_percentile``
    sketches are engine-specific and cannot be oracle-twinned).

    Scale shape: one posexplode feeding (a) the sampled percentile
    aggregate (d rows out of N*d/4 in) and (b) the full clip count via
    a d-row broadcast join. No window, no full-data sort.
    """
    if not 0 < n_256 <= 256:
        raise ValueError("n_256 must be in (0, 256]")
    exd = (
        emb.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col), F.posexplode(F.col(vec_col)).alias("pos", "__v__"))
        .select(id_col, "pos", F.col("__v__").cast("double").alias("v"))
    )
    exd = track_persist(exd)
    thresh = format(n_256, "02x")
    sampled = exd.filter(
        F.substring(
            F.md5(F.concat_ws(":", F.col(id_col).cast("string"),
                              F.col("pos").cast("string"))), 1, 2
        ) < thresh
    ) if n_256 < 256 else exd
    bounds = sampled.groupBy("pos").agg(
        F.count(F.lit(1)).cast("long").alias("n_sample"),
        (F.round(F.percentile("v", F.lit(float(lower))), digits) + F.lit(0.0))
        .alias("p_lo"),
        (F.round(F.percentile("v", F.lit(float(upper))), digits) + F.lit(0.0))
        .alias("p_hi"),
    )
    clipped = (
        exd.join(F.broadcast(bounds.select("pos", "p_lo", "p_hi")), on="pos")
        .groupBy("pos")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                ((F.col("v") < F.col("p_lo")) | (F.col("v") > F.col("p_hi")))
                .cast("long")
            ).alias("__nc__"),
        )
    )
    return (
        bounds.join(clipped, on="pos")
        .select(
            F.col("pos").cast("int").alias("pos"),
            "n",
            "n_sample",
            "p_lo",
            "p_hi",
            F.round(
                F.col("__nc__").cast("double") / F.col("n").cast("double"),
                digits,
            ).alias("clip_frac"),
        )
    )


def recall_at_k(
    exact: DataFrame,
    approx: DataFrame,
    qids: DataFrame,
    k: int = 10,
    id_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Overlap@k of an approximate neighbor list against the exact
    one, per query: (id, n_hit, recall). The shared evaluation tail of
    every recall-style diagnostic (IVF cells sweep, quantization
    audit, …) — one left-semi overlap count, a left join back to the
    query list so zero-hit queries report 0 rather than vanish, and
    one exact division by the literal k.

    Both inputs are expected to carry at most ``k`` neighbors per
    query; the overlap count is defensively capped at ``k`` so a
    caller passing a wider exact list cannot produce recall > 1
    silently."""
    hits = (
        exact.join(approx, on=[id_col, neighbor_col], how="left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__h__"))
    )
    n_hit = F.least(
        F.coalesce("__h__", F.lit(0).cast("long")).cast("long"),
        F.lit(int(k)).cast("long"),
    )
    return qids.join(hits, on=id_col, how="left").select(
        id_col,
        n_hit.alias("n_hit"),
        (n_hit / F.lit(float(k))).alias("recall"),
    )


def ivf_refit_policy(
    base: DataFrame,
    batch: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    occ_tv_threshold: float = 0.1,
    recall_drop_threshold: float = 0.05,
    digits: int = 6,
) -> DataFrame:
    """Index re-fit DECISION table — the operator a maintenance
    scheduler actually calls, fusing the two re-fit triggers the
    audits expose separately: ``ivf_admission_audit``'s per-cell
    occupancy drift (the admitted batch piling into cells where the
    stale index is thin) and ``ivf_recall_drift``'s recall sag (the
    probe set's recall@k holding on base but dropping on the grown
    corpus under the same stale centroids). Either signal alone can
    miss: occupancy can drift while recall holds (the new mass still
    probes fine), and recall can sag under benign-looking occupancy
    (the new mass lands NEAR cell boundaries). Thresholds are config,
    not policy baked into the callers.

    Occupancy is summarized as total-variation distance between the
    base and admitted-batch cell-share distributions (0.5 * sum of
    |share_drift| over cells — 0 when the batch lands exactly like
    the base, 1 when fully disjoint) plus the max per-cell drift;
    recall as the probe-set means on base and grown and their drop.

    ``decision`` = 'refit' when tv_drift > ``occ_tv_threshold`` OR
    recall_drop > ``recall_drop_threshold``, else 'hold'; ``reason``
    in {'occupancy','recall','both','none'} so the scheduler's log
    says WHICH trigger fired.

    Scale shape: both inputs are the already-bounded audit outputs —
    the occupancy side aggregates an n_cells-row table, the recall
    side a probe-set-sized table; the fuse is a cross join of two
    single-row aggregates. All the heavy lifting (one assignment pass
    over base ∪ batch; two brute-force + two IVF probes of a small
    broadcast query set) is the certified machinery of the two audits,
    unchanged. Returns ONE row: (tv_drift, max_share_drift,
    recall_base, recall_grown, recall_drop, decision, reason).
    """
    # sample the deterministic centroids ONCE: both audits would
    # otherwise each run the identical md5-ordered TakeOrdered job
    # over the base corpus — a redundant full pass at 100 TB
    cents = _md5_sample_centroids(base, n_cells, seed, id_col, vec_col)
    occ = ivf_admission_audit(
        base, batch, n_cells=n_cells, seed=seed,
        id_col=id_col, vec_col=vec_col, digits=digits, centroids=cents,
    )
    occ_row = occ.agg(
        (
            F.round(F.sum(F.abs(F.col("share_drift"))) / 2.0, digits)
            + F.lit(0.0)
        ).alias("tv_drift"),
        (F.round(F.max(F.abs(F.col("share_drift"))), digits) + F.lit(0.0)).alias(
            "max_share_drift"
        ),
    )
    grown = base.select(F.col(id_col), F.col(vec_col)).unionByName(
        batch.select(F.col(id_col), F.col(vec_col))
    )
    rec = ivf_recall_drift(
        queries, base, grown, k=k, n_cells=n_cells, n_probe=n_probe,
        seed=seed, id_col=id_col, vec_col=vec_col, centroids=cents,
    )
    rec_row = rec.agg(
        (F.round(F.avg("recall_base"), digits) + F.lit(0.0)).alias("recall_base"),
        (F.round(F.avg("recall_grown"), digits) + F.lit(0.0)).alias(
            "recall_grown"
        ),
    ).select(
        "recall_base",
        "recall_grown",
        (
            F.round(F.col("recall_base") - F.col("recall_grown"), digits)
            + F.lit(0.0)
        ).alias("recall_drop"),
    )
    fused = occ_row.crossJoin(rec_row)
    occ_fired = F.col("tv_drift") > F.lit(float(occ_tv_threshold))
    rec_fired = F.col("recall_drop") > F.lit(float(recall_drop_threshold))
    return fused.select(
        "tv_drift",
        "max_share_drift",
        "recall_base",
        "recall_grown",
        "recall_drop",
        F.when(occ_fired | rec_fired, F.lit("refit"))
        .otherwise(F.lit("hold"))
        .alias("decision"),
        F.when(occ_fired & rec_fired, F.lit("both"))
        .when(occ_fired, F.lit("occupancy"))
        .when(rec_fired, F.lit("recall"))
        .otherwise(F.lit("none"))
        .alias("reason"),
    )
