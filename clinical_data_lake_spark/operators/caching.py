"""Scoped caching (SURVEY.md §2.10 R2).

The reference caches in two places: the reused case/control cohort
(02-patient-trajectory.py:82 — correct) and inside the per-comorbidity
feature loop (include/featurise.py:44 — an anti-pattern: N cache levels
and linear plan growth; our featurizer replaced the loop with one
select, so that cache disappears entirely).

What remains worth caching is the *reuse point*: a DataFrame referenced
by 2+ downstream plans. Catalyst does NOT dedupe repeated scans of the
same lineage — e.g. ``filter_eq_global_agg`` reads its input once for
the aggregate and once for the join, and ``case_control_cohort`` walks
the anti-join three times (bounds, bucket counts, rank). At 100 TB
those re-scans are the cost; a scoped cache trades executor memory for
them explicitly and — unlike the reference's bare ``.cache()`` —
guarantees release.
"""

from __future__ import annotations

import os
import re
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


@contextmanager
def scoped_cache(*dfs: DataFrame, storage: StorageLevel = StorageLevel.MEMORY_AND_DISK):
    """R2 — cache DataFrames for the duration of a block, always
    unpersisting on exit (the reference's caches are never released,
    a lineage/memory leak in long sessions):

        with scoped_cache(cohort) as (cohort,):
            train, test = cohort.randomSplit(...)

    MEMORY_AND_DISK (not MEMORY_ONLY) so partitions that don't fit
    spill instead of silently recomputing the whole lineage.
    """
    for df in dfs:
        df.persist(storage)
    try:
        yield dfs
    finally:
        for df in dfs:
            df.unpersist()


def cache_if(df: DataFrame, reuse_count: int,
             storage: StorageLevel = StorageLevel.MEMORY_AND_DISK) -> DataFrame:
    """Cache only when the plan is actually reused (``reuse_count`` >= 2
    downstream references). Makes the caller's intent auditable: a bare
    ``.cache()`` on a once-read DataFrame costs memory for nothing."""
    if reuse_count >= 2:
        return df.persist(storage)
    return df


# Library operators (TF-IDF, n-gram jaccard, minhash/simhash banding,
# embedding LSH, case-control ranking) persist an intermediate that the
# returned plan references 2-3 times — Catalyst does not dedupe repeated
# subplan scans, so the cache is load-bearing for performance. The
# consuming action happens *after* the operator returns, which rules out
# scoped_cache there; instead every such persist registers here and a
# session owner (bench loop, notebook, service) reclaims them all with
# release_persisted() once results are materialized. Correctness never
# depends on the cache — released plans simply recompute.
_TRACKED: list[DataFrame] = []


def track_persist(
    df: DataFrame, storage: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """Persist ``df`` and register it for ``release_persisted()``."""
    _TRACKED.append(df.persist(storage))
    return df


def _strip_scheme(path: str) -> str:
    """file:/x, hdfs://nn:8020/x, s3a://bucket/x -> the path part."""
    m = re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:(?://[^/]*)?(?P<p>/.*)$", path)
    return m.group("p") if m else path


def _ensure_checkpoint_dir(sc, checkpoint_dir: str) -> None:
    """Set the context checkpoint dir ONLY when it doesn't already
    resolve under ``checkpoint_dir``. Each ``setCheckpointDir`` call
    mints a fresh UUID subdirectory under the requested path (it is
    NOT idempotent per path) — calling it per iteration costs one DFS
    mkdir RPC per round and silently re-points the session-global
    checkpoint dir away from anything the caller configured for their
    own checkpoints."""
    current = sc.getCheckpointDir()
    if current is not None:
        want = _strip_scheme(checkpoint_dir).rstrip("/")
        if "://" not in checkpoint_dir and not checkpoint_dir.startswith("file:"):
            want = os.path.abspath(want)
        cur = _strip_scheme(current).rstrip("/")
        if cur == want or cur.startswith(want + "/"):
            return
    sc.setCheckpointDir(checkpoint_dir)


def iter_checkpoint(
    df: DataFrame, checkpoint_dir: str | None = None, eager: bool = True
) -> DataFrame:
    """Per-iteration lineage truncation for loop operators (BFS
    frontiers, label propagation, PageRank/HITS score vectors, BPE
    symbol tables) — the one place the local-fast and cluster-safe
    checkpoint strategies diverge.

    ``checkpoint_dir=None`` (default): executor-local
    ``localCheckpoint`` — no DFS write, measured ~2x faster per round
    at bench scale (see khop_neighbors). But localCheckpoint blocks
    live on executor local storage and are NOT recomputable: losing
    one executor mid-iteration fails the whole job. Right choice for
    local mode and short jobs on stable clusters.

    ``checkpoint_dir=<DFS path>``: RELIABLE checkpoint — ensures the
    context checkpoint dir resolves under that path (set ONCE per
    session: Spark mints a fresh UUID subdir on every
    ``setCheckpointDir`` call, so re-setting per iteration would both
    pay a DFS RPC per round and clobber a caller-configured dir; we
    skip the call when the current dir already lives under the
    requested path) and writes each iteration's state there. Survives
    executor loss (the job recovers by re-reading the checkpoint
    files), the correct choice for a 100 TB iterative job on a
    churning 1000-executor cluster, at the cost of one DFS write per
    iteration.

    Storage lifecycle: reliable checkpoint files are NOT deleted when
    the DataFrame goes out of scope unless
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` — without
    it every iteration's full state accumulates on DFS for the
    application lifetime (e.g. ~25 label-table copies per
    ``dup_clusters`` run), a real cost at the scale this option is for.
    ``session.recommended_cluster_conf`` now sets the cleaner conf;
    one-shot jobs can also just delete ``checkpoint_dir`` after the
    final result is materialized ELSEWHERE (never while a returned
    plan still reads from it).
    """
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    _ensure_checkpoint_dir(df.sparkSession.sparkContext, checkpoint_dir)
    return df.checkpoint(eager=eager)


# A physical-plan node that runs Spark work of its own once the plan
# executes: a shuffle/broadcast exchange (or its AQE reuse) or a
# subquery. Matched only at a node's position in the tree string, so a
# column named like one never matches.
_STAGE_NODE = re.compile(r"^[\s:+\-*()\d]*(?:\w*Exchange|\w*Subquery\w*)\b", re.M)


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """The coarse-input parallelism floor: ``df`` repartitioned to
    ``defaultParallelism`` when it is an exchange-free plan with fewer
    splits, else ``df`` unchanged. Decided without running ``df``.

    Wide aggregates, explodes and pair joins multiply per-row work
    downstream of the scan, so the scan's parallelism has to be right
    BEFORE them: a coarse input (one small parquet file, a few-file
    sf0.1 table) otherwise pins the shingling, the map-side partial
    aggregates and the shuffle writes to a few cores (measured:
    corr_matrix 9.0 -> 2.5 s, poisson_bootstrap 78 -> 5 s at sf0.1).
    Floor the NARROW projection that feeds the heavy step, and floor a
    coarse scan before joining it to anything: a join output is not
    floored.

    A plan with an exchange or a subquery is returned unchanged: its
    parallelism is whatever the shuffle (and AQE) gives it, and asking
    it for its split count would run every stage beneath it while the
    plan is still being built. The check reads the un-run physical
    plan, including any cached relation's plan. Only an exchange-free
    frame (a scan, a local relation, a scan-only cache) has its split
    count read, and that runs no job. On a real multi-split scan (the
    100 TB case, thousands of scan tasks) this is a no-op.
    """
    qe = df._jdf.queryExecution()
    if _STAGE_NODE.search(qe.executedPlan().toString()):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if qe.toRdd().getNumPartitions() < target:
        return df.repartition(target)
    return df


def release_persisted() -> int:
    """Unpersist every cache registered by ``track_persist`` (idempotent;
    safe while downstream plans still reference them — they recompute).
    Returns the number of caches released."""
    n = len(_TRACKED)
    for df in _TRACKED:
        try:
            df.unpersist()
        except Exception:  # session already stopped: nothing to release
            pass
    _TRACKED.clear()
    return n
