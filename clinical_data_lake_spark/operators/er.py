"""Entity-resolution composition: thresholded match pairs to resolved
clusters.

The individual ER stages each exist as certified operators — blocking
(``joins.fuzzy_join`` length bands, ``dedup.sorted_neighborhood_pairs``,
key blocking), pairwise scoring (``joins.fs_match_score``, EM-estimated
weights via ``joins.fs_em_weights``), and transitive closure
(``llm.dedup.dup_clusters``). This module is the composed artifact a
deduplication/master-data user actually runs: score-thresholded pairs
in, resolved entity clusters out. The counterpart of
``llm/corpus.py``'s composed pretraining pipeline for the
record-linkage workload (the reference joins records on exact codes
only; probabilistic resolution is the extension every real-world
registry needs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .windows import bucketed_prefix_sums


def sorted_neighborhood_block(
    records: DataFrame,
    id_col: str,
    key: Column | str,
    window: int = 10,
    prefix_len: int = 2,
    suffixes: tuple[str, str] = ("_a", "_b"),
    with_attributes: bool = True,
) -> DataFrame:
    """Scale-safe candidate blocking for entity resolution
    (Hernández/Stolfo sorted-neighborhood): sort records on a cheap
    string blocking ``key``, pair each record with its next
    ``window - 1`` neighbors in that order, and return the pairs with
    EVERY record column present twice (suffixed ``_a``/``_b``, the
    lower-rank record on the ``_a`` side) — a drop-in pair generator
    for ``joins.fs_match_score``.

    This is the blocking default that survives scale: candidates are
    exactly O(n · window) REGARDLESS of key cardinality, where any
    fixed-cardinality key join (nation × segment, zip code, …) grows
    per-block population linearly with n and candidate pairs n² — the
    measured failure of the fixed-key demo (BENCH_SCALE r11:
    α = +1.63, ~90 M pairs at sf1 vs 0.9 M at sf0.1, kept as
    ``er_pipeline_fixed_block_demo``). Choosing WHAT to sort on still
    decides recall — duplicates must share a key prefix to land in the
    same window; run several passes with different keys for
    multi-attribute recall (standard SNM practice).

    Scale shape — no global sort, no single-partition fact window:
    1. global rank by (key, id) via ``windows.bucketed_prefix_sums``
       over order-preserving PREFIX buckets (the first ``prefix_len``
       key chars; raise it to split hot prefixes);
    2. neighbor pairing as a rank-band equi-join: bands of width
       ``window``, the right side exploded into its own and the
       previous band, so every pair with rank distance < ``window``
       meets in exactly one band — shuffle keys are bands, never a
       global order;
    3. attributes join back onto the id pairs (two id-keyed linear
       shuffles; ``records`` is scanned three times — persist it first
       when it is a derived plan rather than a table scan).

    ``with_attributes=False`` skips step 3 and returns the bare id
    pairs (``{id_col}_a``, ``{id_col}_b``): Catalyst prunes unused
    COLUMNS but cannot eliminate the join-back JOINS (it has no
    uniqueness proof for the id), so multi-pass callers that union
    candidate ids from several sort keys and join attributes once
    afterwards should opt out here rather than pay two dead joins per
    pass. ``llm.dedup.sorted_neighborhood_pairs`` is such a caller.
    """
    from .caching import track_persist

    if window < 2:
        raise ValueError("sorted_neighborhood_block: window must be >= 2")
    key_col = F.col(key) if isinstance(key, str) else key
    b = records.select(F.col(id_col), key_col.cast("string").alias("__key__"))
    # the 16 B/record (id, rank) table feeds BOTH band-join sides;
    # unpersisted, each side replays the upstream scan + rank
    ranked = track_persist(
        bucketed_prefix_sums(
            b.withColumn("__bkt__", F.substring("__key__", 1, prefix_len)),
            ["__key__", id_col],
            {"__rk__": F.lit(1)},
        ).select(id_col, "__rk__")
    )
    band = F.floor(F.col("__rk__") / F.lit(window))
    a_side = ranked.select(
        F.col(id_col).alias("__ida__"),
        F.col("__rk__").alias("__ra__"),
        band.alias("__band__"),
    )
    b_side = ranked.select(
        F.col(id_col).alias("__idb__"),
        F.col("__rk__").alias("__rb__"),
        F.explode(F.array(band, band - 1)).alias("__band__"),
    )
    cand = (
        a_side.join(b_side, on="__band__")
        .filter(
            (F.col("__rb__") > F.col("__ra__"))
            & (F.col("__rb__") - F.col("__ra__") < window)
        )
        .select("__ida__", "__idb__")
    )
    sa, sb = suffixes
    if not with_attributes:
        return cand.select(
            F.col("__ida__").alias(f"{id_col}{sa}"),
            F.col("__idb__").alias(f"{id_col}{sb}"),
        )
    left = records.select([F.col(c).alias(f"{c}{sa}") for c in records.columns])
    right = records.select([F.col(c).alias(f"{c}{sb}") for c in records.columns])
    return (
        cand.join(left, F.col("__ida__") == F.col(f"{id_col}{sa}"))
        .join(right, F.col("__idb__") == F.col(f"{id_col}{sb}"))
        .drop("__ida__", "__idb__")
    )


def resolve_matches(
    scored_pairs: DataFrame,
    id_a: str,
    id_b: str,
    match_col: str = "is_match",
) -> DataFrame:
    """Resolve scored candidate pairs into entity clusters: keep pairs
    where ``match_col`` holds, take the transitive closure (min-label
    connected components — matches are symmetric and "same entity" is
    transitive by policy), and annotate every clustered record with its
    cluster id and size. Returns (entity_id, cluster_id, cluster_size);
    records with no accepted match are absent (they are their own
    entity).

    Scale shape: inherits ``dup_clusters``' distributed CC (one
    edge-keyed equi-join per round, rounds = cluster diameter,
    localCheckpoint-truncated lineage); the size annotation is a
    cluster-level rollup joined back onto the (entity, cluster) table —
    nothing fact-sized beyond the pair input itself.
    """
    from ..llm.dedup import dup_clusters

    matches = scored_pairs.filter(F.col(match_col)).select(
        F.col(id_a), F.col(id_b)
    )
    # propagation_rounds=4 (r15, measured): ER match graphs from
    # sorted-neighborhood blocking chain consecutive records of a sort
    # run, so min-label propagation cannot converge within any small
    # round budget (>25 rounds measured at sf0.1) — the rounds mostly
    # delay the star-contraction phase that handles diameter in
    # O(log^2 n) regardless. 4 keeps genuinely shallow match graphs on
    # the cheap phase-1 exit (dup cliques converge in 2-4 rounds)
    # while chain graphs enter phase 2 four rounds sooner: er_multipass
    # 10.5 -> 8.3 s, er_pipeline 3.31 -> 3.33 s (min-of-2 at sf0.1;
    # rounds=2 was faster still for er_multipass but regressed
    # er_pipeline 3.3 -> 3.6). Result identical either way — both
    # phases compute the exact transitive closure.
    clusters = dup_clusters(
        matches,
        left=id_a,
        right=id_b,
        id_alias="entity_id",
        cluster_alias="cluster_id",
        propagation_rounds=4,
    )
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return clusters.join(sizes, on="cluster_id").select(
        "entity_id", "cluster_id", "cluster_size"
    )


def cluster_size_profile(
    resolved: DataFrame,
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Cluster-size distribution over ``resolve_matches`` output: for
    every size, how many entity clusters have it and how many records
    they hold. THE post-resolution sanity artifact — blocking or
    scoring mistakes show up here first as a mega-cluster (this round's
    sorted-neighborhood chaining lesson: windows over a sorted run
    chain same-key records into one giant component; a user reading
    this table sees the blow-up before shipping the merge).

    Scale shape: one count per cluster (key-partitioned aggregate over
    the resolved table), then a size-keyed rollup over the
    cluster-count table — nothing record-scale after the first
    aggregate. Returns (cluster_size, n_clusters, n_records)."""
    per_cluster = resolved.groupBy(cluster_col).agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        per_cluster.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("n_clusters") * F.col("cluster_size"))
            .cast("long")
            .alias("n_records"),
        )
    )
