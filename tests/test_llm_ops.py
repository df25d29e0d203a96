"""Recall / correctness tests for the LLM-pipeline operators that the
sf testdata can't exercise meaningfully (random embeddings have no
near-dup pairs, shingle frequencies never hit the fan-out cap), plus
ANSI-session regression coverage for MinHash.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from clinical_data_lake_spark.llm.dedup import (
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
)
from clinical_data_lake_spark.llm.similarity import (
    cosine_dup_pairs,
    cosine_dup_pairs_lsh,
)


@pytest.fixture(scope="module")
def planted_embeddings(spark):
    """40 random 64-dim vectors + 5 planted near-duplicates (tiny
    gaussian perturbations of vectors 0..4, cosine > 0.99)."""
    rnd = random.Random(7)
    base = [[rnd.gauss(0, 1) for _ in range(64)] for _ in range(40)]
    rows = [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(base)]
    for i in range(5):
        pert = [float(x + rnd.gauss(0, 0.02)) for x in base[i]]
        rows.append(Row(vec_id=100 + i, embedding=pert))
    return spark.createDataFrame(rows)


def test_lsh_dup_recall_matches_exact(spark, planted_embeddings):
    """The LSH-blocked dup finder must recover exactly the pairs the
    exact all-pairs query finds on planted duplicates."""
    exact = {
        (r.vec_a, r.vec_b)
        for r in cosine_dup_pairs(planted_embeddings, threshold=0.9).collect()
    }
    lsh = {
        (r.vec_a, r.vec_b)
        for r in cosine_dup_pairs_lsh(planted_embeddings, dim=64, threshold=0.9).collect()
    }
    assert exact == {(i, 100 + i) for i in range(5)}
    assert lsh == exact


def test_lsh_dup_sims_match_exact_values(spark, planted_embeddings):
    exact = {
        (r.vec_a, r.vec_b): r.sim
        for r in cosine_dup_pairs(planted_embeddings, threshold=0.9).collect()
    }
    lsh = {
        (r.vec_a, r.vec_b): r.sim
        for r in cosine_dup_pairs_lsh(planted_embeddings, dim=64, threshold=0.9).collect()
    }
    assert lsh == exact  # exact cosine verified on candidates, same rounding


def test_lsh_buckets_keeps_input_column_named_like_its_temp(spark, planted_embeddings):
    """lsh_buckets projects a temp column and drops it; an input column
    of the same name must survive untouched, with the same buckets."""
    from clinical_data_lake_spark.llm.similarity import lsh_buckets

    plain = {
        r.vec_id: r.bucket
        for r in lsh_buckets(planted_embeddings, dim=64).collect()
    }
    tagged = planted_embeddings.withColumn("__lshv__", F.col("vec_id") * 10)
    out = lsh_buckets(tagged, dim=64).collect()
    assert {r.vec_id: r.bucket for r in out} == plain
    assert all(r["__lshv__"] == r.vec_id * 10 for r in out)


def test_ivf_topk_exact_when_probing_all_cells(spark, planted_embeddings):
    """n_probe == n_cells degenerates to brute force — results must
    equal the exact cosine top-k."""
    from clinical_data_lake_spark.llm.similarity import cosine_topk, ivf_topk

    q = planted_embeddings.filter("vec_id < 3")
    exact = {
        (r.query_id, r.neighbor_id, r.rnk)
        for r in cosine_topk(q, planted_embeddings, k=5, round_to=None).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id, r.rnk)
        for r in ivf_topk(q, planted_embeddings, k=5, n_cells=4, n_probe=4).collect()
    }
    assert ivf == exact


def test_kmeans_ivf_centroids_recover_planted_clusters(spark):
    """On a corpus with genuine cluster structure, Lloyd-refined cells
    must give PERFECT recall at n_probe=1 (each query's whole
    neighborhood lives in its own cluster's cell), where the default
    hash-sampled centroids are at the mercy of which rows the sample
    picks. Certification of the ivf machinery itself is centroid-
    agnostic (ann_ivf_exact, full coverage); this test pins the
    QUALITY claim for fit_ivf_centroids."""
    import random as _r

    from clinical_data_lake_spark.llm.similarity import (
        cosine_topk,
        fit_ivf_centroids,
        ivf_topk,
    )

    rnd = _r.Random(3)
    centers = [[rnd.gauss(0, 1) for _ in range(16)] for _ in range(4)]
    rows = []
    for i in range(200):
        c = centers[i % 4]
        rows.append(
            Row(
                vec_id=i,
                embedding=[float(x + rnd.gauss(0, 0.05)) for x in c],
            )
        )
    corpus = spark.createDataFrame(rows)
    q = corpus.filter("vec_id < 8")  # two queries per cluster
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(q, corpus, k=10).collect()
    }
    cents = fit_ivf_centroids(corpus, n_cells=4, seed=42)
    assert len(cents) == 4 and len(cents[0]) == 16
    got = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(q, corpus, k=10, n_probe=1, centroids=cents).collect()
    }
    assert got == exact  # recall 1.0 with a single probed cell


def test_ivf_topk_partial_probe_finds_planted_dup(spark, planted_embeddings):
    """Probing a subset of cells must still put each planted near-dup
    (cosine > 0.99 — lands in the same cell as its source) at rank 1."""
    from clinical_data_lake_spark.llm.similarity import ivf_topk

    q = planted_embeddings.filter("vec_id < 3")
    got = {
        r.query_id: r.neighbor_id
        for r in ivf_topk(q, planted_embeddings, k=5, n_cells=8, n_probe=2).collect()
        if r.rnk == 1
    }
    assert got == {0: 100, 1: 101, 2: 102}


def test_minhash_estimates_track_exact_jaccard(spark):
    """MinHash est_jaccard on near-dup docs should approximate exact
    n-gram Jaccard (also a standing ANSI-overflow regression test —
    session fixture runs ANSI-on)."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    variant = base.replace("lazy", "sleepy")  # high-jaccard near-dup
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=variant),
            Row(doc_id=3, text="completely different content about spark engines and scale"),
        ]
    )
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    est = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs, num_hashes=128, bands=32).collect()
    }
    assert (1, 2) in est
    assert abs(est[(1, 2)] - exact[(1, 2)]) < 0.2


def test_verified_near_dup_pairs_equals_exact_answer(spark):
    """The two-phase pattern (LSH candidates -> exact-Jaccard verify)
    must equal the exact all-pairs answer when the candidate generator
    covers every true pair, and must drop candidate pairs below the
    verification threshold (no false positives by construction).
    Candidate orientation and repeats do not matter: reversed and
    duplicated pairs give the forward answer, and a self-pair is never
    emitted."""
    from clinical_data_lake_spark.llm.dedup import (
        simhash_pairs, verified_near_dup_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base.replace("kappa", "lambda")),  # near-dup of 1
            Row(doc_id=3, text=base),                             # exact dup of 1
            Row(doc_id=4, text="unrelated words about engines pipelines and shuffles today"),
        ]
    )
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    # minhash candidates
    mh_cand = minhash_lsh_pairs(docs, num_hashes=64, bands=16)
    mh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in verified_near_dup_pairs(docs, mh_cand, threshold=0.8).collect()
    }
    assert mh == exact and (1, 3) in mh and mh[(1, 3)] == 1.0
    # simhash candidates, wide-band coverage
    sh_cand = simhash_pairs(docs, max_hamming=7, bands=8)
    sh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in verified_near_dup_pairs(docs, sh_cand, threshold=0.8).collect()
    }
    assert sh == exact
    # sub-threshold candidate pairs are verified away: nothing below 0.8
    assert all(j >= 0.8 for j in mh.values())
    # every pair of the four docs, forward / reversed and repeated /
    # both / with self-pairs: one (lo, hi) row per verified pair
    fwd = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    rev = [(b, a) for a, b in fwd]
    variants = [fwd, rev + rev, fwd + rev, fwd + [(d, d) for d in range(1, 5)]]
    for pairs in variants:
        cand = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        rows = verified_near_dup_pairs(docs, cand, threshold=0.8).collect()
        assert len(rows) == len(exact)
        assert {(r.doc_a, r.doc_b): r.jaccard for r in rows} == exact


def test_minhash_signature_values_in_31bit_range(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="one two three four five six")])
    sig = minhash_signatures(docs, num_hashes=16).collect()[0]["signature"]
    assert len(sig) == 16
    assert all(0 <= v < (1 << 31) for v in sig)


def test_asof_join_semantics(spark):
    """Inclusive <= match, latest-wins, null for no-prior-row."""
    import datetime

    from clinical_data_lake_spark.operators.joins import asof_join

    t = lambda d: datetime.datetime(2026, 1, d)  # noqa: E731
    left = spark.createDataFrame(
        [Row(eid=1, k=1, ts=t(5)), Row(eid=2, k=1, ts=t(10)),
         Row(eid=3, k=1, ts=t(2)), Row(eid=4, k=2, ts=t(5))],
    )
    right = spark.createDataFrame(
        [Row(k=1, rts=t(3), val=30), Row(k=1, rts=t(10), val=100),
         Row(k=3, rts=t(1), val=1)],
    )
    out = {r.eid: r.val for r in asof_join(
        left, right, key="k", left_ts="ts", right_ts="rts", right_value_cols=["val"]
    ).collect()}
    assert out[1] == 30  # latest at-or-before Jan 5 is Jan 3
    assert out[2] == 100  # equal timestamp matches (inclusive)
    assert out[3] is None  # no right row at-or-before Jan 2
    assert out[4] is None  # key has no right rows at all


def test_range_join_matches_naive_and_plans_hash_join(spark):
    """Binned range join == naive BETWEEN join result, but with a hash
    equi-join on the bucket instead of a nested loop; negative values
    and boundary-inclusive matches covered."""
    from clinical_data_lake_spark.operators.joins import range_join

    pts = spark.createDataFrame(
        [Row(pid=i, v=float(x)) for i, x in enumerate([-15.0, -10.0, 0.0, 9.99, 10.0, 55.5])]
    )
    ivs = spark.createDataFrame(
        [Row(iid=1, lo=-20.0, hi=-10.0), Row(iid=2, lo=0.0, hi=10.0),
         Row(iid=3, lo=50.0, hi=60.0), Row(iid=4, lo=100.0, hi=110.0)]
    )
    got = {(r.pid, r.iid) for r in range_join(pts, ivs, "v", "lo", "hi", 10.0).collect()}
    want = {
        (r.pid, r.iid)
        for r in pts.join(ivs, (F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi"))).collect()
    }
    assert got == want
    assert (0, 1) in got and (1, 1) in got  # negative bucket + inclusive hi
    assert (4, 2) in got  # inclusive boundary at hi
    plan = range_join(pts, ivs, "v", "lo", "hi", 10.0)._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan or "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_salted_group_count_equals_plain_on_skew(spark):
    """90% of rows share one key — the salted two-phase plan must still
    produce exactly the plain group-count."""
    from clinical_data_lake_spark.operators.aggregates import (
        group_count,
        salted_group_count,
    )

    df = spark.range(0, 10000).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 'hot' ELSE concat('k', id % 7) END AS k"
    )
    plain = {(r.k, r.cnt) for r in group_count(df, ["k"]).collect()}
    salted = {(r.k, r.cnt) for r in salted_group_count(df, ["k"], salt_buckets=8).collect()}
    assert salted == plain
    assert ("hot", 9000) in plain


def test_text_functions_null_and_empty_safe(spark):
    """Null/empty text must flow through every text op without ANSI
    errors and with sane outputs."""
    from pyspark.sql import Row

    from clinical_data_lake_spark.functions import text as T

    df = spark.createDataFrame(
        [Row(doc_id=1, text=None), Row(doc_id=2, text=""), Row(doc_id=3, text="   ")],
        schema="doc_id long, text string",
    )
    out = df.select(
        "doc_id",
        T.token_count("text").alias("nt"),
        T.bpe_ish_token_count("text").alias("nb"),
        T.quality_score("text").alias("q"),
        T.lang_id("text").alias("lang"),
        T.fingerprint("text").alias("fp"),
    ).collect()
    rows = {r.doc_id: r for r in out}
    assert rows[1].nt is None and rows[1].lang == "und" and rows[1].fp is None
    assert rows[2].q == 0.0 or rows[2].q is not None
    assert rows[3].lang == "und"
    # tfidf: null/empty docs simply contribute no terms
    got = T.tfidf_terms(df).collect()
    assert got == []


def test_ngram_max_doc_freq_cap_drops_hot_shingles(spark):
    """A shingle present in every doc is a stop-shingle: with the cap
    below the corpus size it must not generate candidate pairs."""
    hot = "alpha beta gamma"  # shared 3-gram across all docs
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"{hot} unique{i} filler{i} tail{i}") for i in range(6)]
    )
    uncapped = ngram_jaccard_pairs(docs, threshold=0.0).count()
    capped = ngram_jaccard_pairs(docs, threshold=0.0, max_doc_freq=3).count()
    assert uncapped == 15  # all pairs share the hot shingle
    assert capped == 0  # cap removes the only shared shingle


def test_dup_clusters_transitive_closure(spark):
    """A chain a-b, b-c, c-d must collapse to ONE cluster labeled by the
    min id, even though (a,d) was never emitted as a pair; disjoint
    pairs stay separate clusters."""
    from clinical_data_lake_spark.llm.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        schema="doc_a long, doc_b long",
    )
    got = {(r.doc_id, r.cluster_id) for r in dup_clusters(pairs).collect()}
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20),
    }


def test_dup_clusters_deep_chain_converges(spark):
    """A 12-node path graph needs multiple propagation rounds; the loop
    must converge (not hit max_iters with wrong labels)."""
    from clinical_data_lake_spark.llm.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 111)], schema="doc_a long, doc_b long"
    )
    got = {(r.doc_id, r.cluster_id) for r in dup_clusters(pairs).collect()}
    assert got == {(i, 100) for i in range(100, 112)}


def test_dup_clusters_star_phase_matches_union_find(spark):
    """The hybrid closure must agree with a pure-Python union-find on
    adversarial structures (decreasing/shuffled chains, stars, bridged
    cliques, random multigraphs) under EVERY phase split:
    propagation_rounds=8 (phase-1 exit), 0 (pure star contraction on
    the raw graph), and 1 (star contraction composed with a partial
    propagation labeling). Guards the silent-truncation bug where
    min-label propagation hit max_iters on >25-diameter match graphs
    and returned partially-merged clusters (found on er_multipass at
    sf0.1, r12)."""
    from clinical_data_lake_spark.llm.dedup import dup_clusters

    def uf(pairs):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp = {}
        for x in list(parent):
            comp.setdefault(find(x), []).append(x)
        return {x: min(mem) for mem in comp.values() for x in mem}

    rnd = random.Random(7)
    n = 120
    perm = list(range(1, n + 1))
    rnd.shuffle(perm)
    cases = [
        [(i + 1, i) for i in range(1, n)],  # decreasing-id chain
        [(perm[i], perm[i + 1]) for i in range(n - 1)],  # shuffled chain
        [(1, i) for i in range(2, 40)],  # star
        # two cliques + one bridge
        [(i, j) for i in range(1, 7) for j in range(i + 1, 7)]
        + [(100 + i, 100 + j) for i in range(1, 7) for j in range(i + 1, 7)]
        + [(6, 101)],
        [(rnd.randint(1, 60), rnd.randint(1, 60)) for _ in range(150)],
    ]
    for pairs in cases:
        clean = [(a, b) for a, b in pairs if a != b]
        want = set(uf(clean).items())
        df = spark.createDataFrame(pairs, schema="doc_a long, doc_b long")
        for pr in (8, 0, 1):
            got = {
                (r.doc_id, r.cluster_id)
                for r in dup_clusters(df, propagation_rounds=pr).collect()
            }
            assert got == want, f"propagation_rounds={pr}"


def test_hash_sample_deterministic_and_partition_invariant(spark):
    """Membership is a pure function of the key: same rows selected
    regardless of partitioning, and the fraction tracks n_256/256."""
    from clinical_data_lake_spark.operators.sampling import hash_sample

    df = spark.range(0, 4000).withColumnRenamed("id", "k")
    a = {r.k for r in hash_sample(df, "k", 26).collect()}
    b = {r.k for r in hash_sample(df.repartition(13), "k", 26).collect()}
    assert a == b
    assert 0.06 < len(a) / 4000 < 0.15  # ~10.2% expected


def test_sample_per_group_fixed_size_and_stable(spark):
    from clinical_data_lake_spark.operators.sampling import sample_per_group

    df = spark.createDataFrame(
        [(i, "g" + str(i % 3)) for i in range(300)], schema="k long, g string"
    )
    out = sample_per_group(df, ["g"], "k", 5)
    counts = {r.g: r.cnt for r in out.groupBy("g").agg(F.count("*").alias("cnt")).collect()}
    assert counts == {"g0": 5, "g1": 5, "g2": 5}
    again = {(r.g, r.k) for r in sample_per_group(df.repartition(7), ["g"], "k", 5).collect()}
    assert {(r.g, r.k) for r in out.collect()} == again


def test_redact_pii_emails_and_numbers(spark):
    from clinical_data_lake_spark.functions.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "contact john.doe+x@ex-ample.co.uk or call 5551234567 now"),
            (2, "short 123 stays; 1234 goes"),
            (3, None),
        ],
        schema="doc_id long, text string",
    )
    rows = {r.doc_id: r.red for r in df.select("doc_id", redact_pii("text").alias("red")).collect()}
    assert rows[1] == "contact <EMAIL> or call <NUM> now"
    assert rows[2] == "short 123 stays; <NUM> goes"
    assert rows[3] is None


def test_hash_split_partitions_cover_and_are_stable(spark):
    from clinical_data_lake_spark.operators.sampling import hash_split

    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    out = hash_split(df, "k")
    counts = {r.split: r.cnt for r in out.groupBy("split").agg(F.count("*").alias("cnt")).collect()}
    assert sum(counts.values()) == 5000
    assert 0.72 < counts["train"] / 5000 < 0.88
    assert 0.05 < counts["val"] / 5000 < 0.16
    assert 0.05 < counts["test"] / 5000 < 0.16
    again = {(r.k, r.split) for r in hash_split(df.repartition(11), "k").collect()}
    assert {(r.k, r.split) for r in out.collect()} == again


def test_pack_greedy_invariants(spark):
    """Every doc appears once; per-bin fill <= budget unless the bin is
    a flagged oversized singleton; assignment is partitioning-invariant."""
    from clinical_data_lake_spark.llm.packing import pack_greedy, pack_stats

    rows = [(i, 100 + (i * 37) % 900) for i in range(400)] + [(1000, 5000)]
    df = spark.createDataFrame(rows, schema="doc_id long, n_tokens long")
    packed = pack_greedy(df, budget=2048, shards=8)
    got = packed.collect()
    assert sorted(r.doc_id for r in got) == sorted(r[0] for r in rows)

    stats = pack_stats(pack_greedy(df, budget=2048, shards=8), budget=2048).collect()
    for s in stats:
        if not s.has_oversize:
            assert s.fill <= 2048, (s.shard, s.bin, s.fill)
        else:
            assert s.n_docs == 1  # oversized doc is alone in its bin

    again = pack_greedy(df.repartition(5), budget=2048, shards=8).collect()
    assert {(r.doc_id, r.shard, r.bin) for r in got} == {
        (r.doc_id, r.shard, r.bin) for r in again
    }


def test_clean_corpus_null_safe_and_dedups(spark):
    """Null/empty text must not crash the composed pipeline; exact
    duplicates collapse to the min doc id; only docs passing every gate
    survive."""
    from clinical_data_lake_spark.llm.corpus import clean_corpus

    good = "the cat and the dog of the house sat on the mat near the door"
    df = spark.createDataFrame(
        [(1, good), (2, good), (3, None), (4, ""), (5, "der hund und die katze und der vogel")],
        schema="doc_id long, text string",
    )
    got = {r.doc_id for r in clean_corpus(df).collect()}
    assert got == {1}


def test_group_mode_tie_breaks_deterministically(spark):
    """On tied counts the smallest value wins, every run."""
    from clinical_data_lake_spark.operators.aggregates import group_mode

    df = spark.createDataFrame(
        [("g1", "b"), ("g1", "b"), ("g1", "a"), ("g1", "a"), ("g2", "z")],
        schema="g string, v string",
    )
    got = {(r.g, r.mode_value, r.cnt) for r in group_mode(df, ["g"], "v").collect()}
    assert got == {("g1", "a", 2), ("g2", "z", 1)}


def test_near_dedup_canonical_keeps_min_per_cluster(spark):
    from clinical_data_lake_spark.llm.dedup import near_dedup_canonical

    docs = spark.createDataFrame([(i,) for i in range(1, 8)], schema="doc_id long")
    pairs = spark.createDataFrame(
        [(2, 3), (3, 4), (6, 7)], schema="doc_a long, doc_b long"
    )
    got = sorted(r.doc_id for r in near_dedup_canonical(docs, pairs).collect())
    # cluster {2,3,4} -> keep 2; cluster {6,7} -> keep 6; 1,5 untouched
    assert got == [1, 2, 5, 6]


def test_funnel_conversion_boundaries(spark):
    """Conversion is inclusive at exactly the horizon; users with no
    to-event contribute unconverted rows, never nulls."""
    from clinical_data_lake_spark.operators.windows import funnel_conversion

    rows = [
        (1, 100, "view", 0),    # converted at exactly +1800
        (1, 1900, "click", 1),
        (2, 100, "view", 2),    # click too late
        (2, 2000, "click", 3),
        (3, 100, "view", 4),    # no click at all
    ]
    df = spark.createDataFrame(
        [(u, __import__("datetime").datetime(2026, 1, 1, 0, 0, 0)
          + __import__("datetime").timedelta(seconds=s), t, e) for u, s, t, e in rows],
        schema="user_id long, ts timestamp, event_type string, event_id long",
    )
    out = funnel_conversion(df, "user_id", "ts", "event_type", "view", "click", 1800, "event_id").collect()[0]
    assert (out.n_from, out.n_converted) == (3, 1)
    assert abs(out.conv_rate - 0.333333) < 1e-6


def test_interval_overlap_join_matches_naive_and_avoids_nested_loop(spark):
    from clinical_data_lake_spark.operators.joins import interval_overlap_join

    left = spark.createDataFrame(
        [(1, 0.0, 10.0), (2, 20.0, 25.0), (3, -7.5, -2.5)],
        schema="lid long, ls double, le double",
    )
    right = spark.createDataFrame(
        [(10, 9.0, 30.0), (20, 11.0, 19.0), (30, -3.0, 0.0), (40, 100.0, 110.0)],
        schema="rid long, rs double, re double",
    )
    out = interval_overlap_join(left, right, "ls", "le", "rs", "re", 5.0)
    got = {(r.lid, r.rid) for r in out.collect()}
    naive = {
        (lr.lid, rr.rid)
        for lr in left.collect() for rr in right.collect()
        if lr.ls <= rr.re and rr.rs <= lr.le
    }
    assert got == naive
    assert len(got) == len(out.collect())  # canonical bucket: no dup pairs
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_split_to_chunks_boundaries_and_coverage(spark):
    """Chunk i covers tokens [i*step, i*step+chunk); the tail chunk is
    short; a tail fully inside the previous chunk is not re-emitted;
    short docs yield one chunk; the union of chunks covers every
    token."""
    from clinical_data_lake_spark.llm.packing import split_to_chunks

    text13 = " ".join(f"t{i}" for i in range(13))   # 13 tokens
    text4 = "a b c d"                               # 4 <= overlap
    text10 = " ".join(f"u{i}" for i in range(10))   # tail inside prev? no
    df = spark.createDataFrame(
        [Row(doc_id=1, text=text13), Row(doc_id=2, text=text4),
         Row(doc_id=3, text=text10)]
    )
    out = {
        (r.doc_id, r.chunk_id): (r.chunk_text, r.n_tokens)
        for r in split_to_chunks(df, chunk_tokens=8, overlap=4).collect()
    }
    # doc 1: step=4 -> starts 0,4,8: [0..7], [4..11], [8..12]
    assert out[(1, 0)] == (" ".join(f"t{i}" for i in range(8)), 8)
    assert out[(1, 1)] == (" ".join(f"t{i}" for i in range(4, 12)), 8)
    assert out[(1, 2)] == (" ".join(f"t{i}" for i in range(8, 13)), 5)
    assert (1, 3) not in out
    # doc 2: single chunk, whole doc
    assert out[(2, 0)] == (text4, 4)
    assert (2, 1) not in out
    # doc 3 (10 tokens): starts 0,4 -> [0..7], [4..9]; start 8 would
    # add only tokens 8,9 which [4..11] already covered... they ARE new
    # beyond token 7? tokens 8,9 are inside chunk [4..9]? chunk 1 covers
    # 4..9 inclusive (6 tokens) so everything is covered by 2 chunks
    assert out[(3, 0)][1] == 8 and out[(3, 1)] == (" ".join(f"u{i}" for i in range(4, 10)), 6)
    assert (3, 2) not in out
    # coverage: every token of doc 1 appears in some chunk
    covered = set()
    for (d, _), (txt, _) in out.items():
        if d == 1:
            covered.update(txt.split(" "))
    assert covered == {f"t{i}" for i in range(13)}


def test_skew_profile_flags_heavy_key(spark):
    from clinical_data_lake_spark.operators.aggregates import skew_profile

    rows = [Row(k="hot", v=i) for i in range(80)] + [
        Row(k=f"c{j}", v=j) for j in range(20)
    ]
    out = skew_profile(spark.createDataFrame(rows), ["k"], top_n=3).collect()
    assert out[0].k == "hot" and out[0].cnt == 80
    assert out[0].share == 0.8
    # 21 keys, 100 rows -> mean 100/21; hot is 80/(100/21) = 16.8x
    assert out[0].x_avg == 16.8
    assert len(out) == 3 and all(r.cnt == 1 for r in out[1:])
    # cold-key tiebreak is deterministic (key order)
    assert [r.k for r in out[1:]] == ["c0", "c1"]


def test_pack_concat_exact_replay(spark):
    """Driver-side replay of the full concat-and-cut semantics: within
    each shard, docs laid head-to-tail in id order; bin = floor(start /
    budget), bin_offset = start % budget, split iff the doc's token span
    crosses a bin boundary. Also: every doc appears exactly once and the
    assignment is invariant to input partitioning."""
    from clinical_data_lake_spark.llm.packing import pack_concat

    budget = 256
    rows = [(i, (i * 37) % 500) for i in range(300)]  # includes 0-token docs
    df = spark.createDataFrame(rows, schema="doc_id long, n_tokens long")
    packed = pack_concat(df, budget=budget, shards=4, shard_by_hash=False)
    got = {r.doc_id: r for r in packed.collect()}
    assert sorted(got) == sorted(r[0] for r in rows)

    by_shard: dict[int, list[tuple[int, int]]] = {}
    for doc_id, n_tok in rows:
        by_shard.setdefault(doc_id % 4, []).append((doc_id, n_tok))
    for shard, docs in by_shard.items():
        start = 0
        for doc_id, n_tok in sorted(docs):
            r = got[doc_id]
            end = start + n_tok
            assert r.shard == shard
            assert r.bin == start // budget, (doc_id, r.bin, start)
            assert r.bin_offset == start % budget
            assert r.split == (n_tok > 0 and start // budget != (end - 1) // budget)
            start = end

    again = pack_concat(df.repartition(7), budget=budget, shards=4, shard_by_hash=False)
    assert {tuple(r) for r in again.collect()} == {tuple(r) for r in packed.collect()}


def test_pack_concat_stats_span_exact(spark):
    """pack_stats on concat output attributes a split doc's tokens to
    every bin its span touches, so every interior bin reads fill exactly
    budget (fill fraction 1.0) — including bins wholly covered by one
    long doc — and total fill across bins equals total tokens."""
    from clinical_data_lake_spark.llm.packing import pack_concat, pack_stats

    budget = 128
    rows = [(i, 50) for i in range(20)] + [(100, 500)]  # 500 spans ~4 bins
    df = spark.createDataFrame(rows, schema="doc_id long, n_tokens long")
    packed = pack_concat(df, budget=budget, shards=1, shard_by_hash=False)
    stats = {r.bin: r for r in pack_stats(packed, budget=budget).collect()}
    last = max(stats)
    assert sorted(stats) == list(range(last + 1))  # long-doc interior bins present
    for b, s in stats.items():
        assert s.fill <= budget, (b, s.fill)
        if b < last:
            assert s.fill == budget, (b, s.fill)
    assert sum(s.fill for s in stats.values()) == sum(n for _, n in rows)


def test_pack_concat_jvm_only_plan(spark):
    """The concat packer must stay Python-free: no Arrow/Python eval
    nodes in the physical plan (that is its whole point vs pack_greedy)."""
    from clinical_data_lake_spark.llm.packing import pack_concat

    df = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 50 + 1).alias("n_tokens")
    )
    plan = pack_concat(df, budget=64, shards=2)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan


def test_hash_sample_boundaries(spark):
    """n_256=256 keeps every row (the hex-threshold arithmetic would
    otherwise compute '00' and keep none); out-of-range values raise."""
    import pytest as _pytest

    from clinical_data_lake_spark.operators.sampling import hash_sample

    df = spark.range(0, 500).withColumnRenamed("id", "k")
    assert hash_sample(df, "k", 256).count() == 500
    with _pytest.raises(ValueError):
        hash_sample(df, "k", 0)
    with _pytest.raises(ValueError):
        hash_sample(df, "k", 257)


def test_decontaminate_flags_planted_overlap(spark):
    from clinical_data_lake_spark.llm.corpus import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        schema="doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "totally unrelated words here nothing shared at all"),
            (2, "he saw the quick brown fox run"),  # 2 shared 3-grams
            (3, "the  QUICK   brown fox jumps again"),  # normalization hits
            (4, "tiny"),  # < n words: zero shingles
        ],
        schema="doc_id long, text string",
    )
    got = {r.doc_id: r for r in decontaminate(corpus, bench).collect()}
    assert set(got) == {1, 2, 3, 4}  # every corpus doc reported
    assert not got[1].contaminated and got[1].n_hits == 0
    assert got[2].contaminated and got[2].n_hits == 2
    assert got[3].contaminated and got[3].n_hits >= 2
    assert not got[4].contaminated


def test_repetition_profile_closed_forms(spark):
    from clinical_data_lake_spark.functions.text import repetition_profile

    df = spark.createDataFrame(
        [
            (1, "a a a a"),          # grams: [a a a, a a a] -> dup 0.5
            (2, "w x y z"),          # 2 distinct grams -> dup 0.0
            (3, "one two"),          # shorter than n -> all zeros
            (4, "b c b c b c b c"),  # period-2 repetition
        ],
        schema="doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_profile(df).collect()}
    assert (got[1].n_ngrams, got[1].n_distinct, got[1].dup_frac) == (2, 1, 0.5)
    assert (got[2].n_ngrams, got[2].n_distinct, got[2].dup_frac) == (2, 2, 0.0)
    assert (got[3].n_ngrams, got[3].n_distinct, got[3].dup_frac) == (0, 0, 0.0)
    assert got[4].n_ngrams == 6 and got[4].n_distinct == 2
    assert abs(got[4].dup_frac - (1 - 2 / 6)) < 1e-6
    # projection only: no exchange anywhere in the plan
    plan = repetition_profile(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_sample_mixture_rates_and_determinism(spark):
    import pytest as _pytest

    from clinical_data_lake_spark.operators.sampling import sample_mixture

    df = spark.range(0, 2000).selectExpr(
        "id AS k", "CASE id % 4 WHEN 0 THEN 'en' WHEN 1 THEN 'de' WHEN 2 THEN 'xx' ELSE 'fr' END AS g"
    )
    out = sample_mixture(df, "g", "k", {"en": 256, "de": 128, "fr": 0}, default_256=64)
    got = {(r.g, r.k) for r in out.collect()}
    by_g = {}
    for g, k in got:
        by_g.setdefault(g, set()).add(k)
    assert len(by_g.get("en", ())) == 500          # rate 256: all kept
    assert "fr" not in by_g                        # rate 0: none kept
    assert 0.35 < len(by_g.get("de", ())) / 500 < 0.65   # ~1/2
    assert 0.12 < len(by_g.get("xx", ())) / 500 < 0.40   # default ~1/4
    again = {(r.g, r.k) for r in sample_mixture(
        df.repartition(13), "g", "k", {"en": 256, "de": 128, "fr": 0}, default_256=64
    ).collect()}
    assert got == again  # pure function of the key
    with _pytest.raises(ValueError):
        sample_mixture(df, "g", "k", {"en": 300})


def test_cosine_ops_survive_zero_vectors(spark):
    """A zero-norm embedding (failed embedder, padded row) must not
    raise ANSI DIVIDE_BY_ZERO anywhere in the similarity family; its
    cosine is defined as 0.0 (similar to nothing)."""
    from clinical_data_lake_spark.llm.similarity import (
        cosine_dup_pairs,
        cosine_dup_pairs_lsh,
        cosine_topk,
    )
    from clinical_data_lake_spark.operators.caching import release_persisted

    rows = [(i, [float((i + j) % 7 + 1) for j in range(8)]) for i in range(10)]
    rows.append((99, [0.0] * 8))  # the poison row
    vecs = spark.createDataFrame(rows, schema="vec_id long, embedding array<double>")

    dup = cosine_dup_pairs(vecs, threshold=0.5).collect()  # no crash
    assert all(99 not in (r.vec_a, r.vec_b) for r in dup)  # sim 0 < threshold
    lsh = cosine_dup_pairs_lsh(vecs, dim=8, threshold=0.5).collect()
    assert all(99 not in (r.vec_a, r.vec_b) for r in lsh)
    topk = cosine_topk(vecs.filter("vec_id = 99"), vecs, k=3).collect()
    assert all(r.sim == 0.0 for r in topk)  # zero query: all sims 0
    release_persisted()


def test_funnel_zero_from_events_yields_zero_rate(spark):
    """No from-events: the global aggregate still emits its single row;
    conv_rate must be 0.0, not an ANSI divide-by-zero."""
    import datetime

    from clinical_data_lake_spark.operators.windows import funnel_conversion

    df = spark.createDataFrame(
        [(1, datetime.datetime(2026, 1, 1), "click", 1)],
        schema="user_id long, ts timestamp, event_type string, event_id long",
    )
    out = funnel_conversion(
        df, "user_id", "ts", "event_type", "view", "click", 1800, "event_id"
    ).collect()[0]
    assert (out.n_from, out.n_converted, out.conv_rate) == (0, 0, 0.0)


def test_training_order_is_a_deterministic_permutation(spark):
    """(shard, position) is a pure function of the id: positions within
    each shard are 1..n with no gaps, the assignment survives any input
    partitioning, and hash-sharded mode covers every doc exactly once."""
    from clinical_data_lake_spark.llm.corpus import training_order

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    out = training_order(df, n_shards=4, shard_by_hash=False).collect()
    assert sorted(r.doc_id for r in out) == list(range(1000))
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.position)
    for shard, positions in by_shard.items():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    again = training_order(
        df.repartition(17), n_shards=4, shard_by_hash=False
    ).collect()
    assert {(r.doc_id, r.shard, r.position) for r in again} == {
        (r.doc_id, r.shard, r.position) for r in out
    }
    hashed = training_order(df, n_shards=4, shard_by_hash=True).collect()
    assert sorted(r.doc_id for r in hashed) == list(range(1000))


def test_corpus_profile_closed_form(spark):
    from clinical_data_lake_spark.llm.corpus import corpus_profile

    df = spark.createDataFrame(
        [
            (1, "web", "en", "four token doc here"),
            (2, "web", "en", "two tokens"),
            (3, "web", "de", "ein doc"),
        ],
        schema="doc_id long, source string, lang string, text string",
    )
    got = {(r.source, r.lang): r for r in corpus_profile(df).collect()}
    assert got[("web", "en")].n_docs == 2
    assert got[("web", "en")].total_tokens == 6
    assert got[("web", "en")].total_chars == len("four token doc here") + len("two tokens")
    assert got[("web", "de")].n_docs == 1
    assert 0.0 <= got[("web", "en")].avg_quality <= 1.0


def test_stratified_split_exact_proportions(spark):
    """Every stratum lands exactly round(w * n) rows per split, the
    assignment is a pure function of the key, and 3-way weights work."""
    import pytest as _pytest

    from clinical_data_lake_spark.operators.sampling import stratified_split

    df = spark.range(0, 900).selectExpr(
        "id AS k", "CASE id % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE 'c' END AS g"
    )
    out = stratified_split(df, ["g"], "k")
    counts = {(r.g, r.split): r.cnt for r in
              out.groupBy("g", "split").agg(F.count("*").alias("cnt")).collect()}
    for g in ("a", "b", "c"):
        assert counts[(g, "train")] == 240  # round(0.8 * 300)
        assert counts[(g, "test")] == 60
    again = stratified_split(df.repartition(11), ["g"], "k").collect()
    assert {(r.k, r.split) for r in again} == {(r.k, r.split) for r in out.collect()}

    three = stratified_split(df, ["g"], "k", (0.6, 0.2, 0.2), ("tr", "va", "te"))
    c3 = {(r.g, r.split): r.cnt for r in
          three.groupBy("g", "split").agg(F.count("*").alias("cnt")).collect()}
    for g in ("a", "b", "c"):
        assert c3[(g, "tr")] == 180 and c3[(g, "va")] == 60 and c3[(g, "te")] == 60
    with _pytest.raises(ValueError):
        stratified_split(df, ["g"], "k", (0.8,), ("only",))


def test_jsonl_roundtrip(spark, tmp_path):
    """JSONL sink -> source roundtrip with explicit schema; corrupt
    lines surface in _corrupt_record instead of poisoning the read."""
    from clinical_data_lake_spark.io import read_jsonl, write_jsonl

    df = spark.createDataFrame(
        [(1, "hello world", "en"), (2, 'quote " and \\ slash', "de"), (3, None, None)],
        schema="doc_id long, text string, lang string",
    )
    path = str(tmp_path / "corpus_jsonl")
    write_jsonl(df, path, n_files=2)
    back = read_jsonl(spark, path, "doc_id long, text string, lang string")
    assert sorted((r.doc_id, r.text, r.lang) for r in back.collect()) == sorted(
        (r.doc_id, r.text, r.lang) for r in df.collect()
    )

    bad = tmp_path / "bad.jsonl"
    bad.write_text('{"doc_id": 1, "text": "ok"}\nNOT JSON AT ALL\n')
    got = read_jsonl(
        spark, str(bad), "doc_id long, text string, _corrupt_record string"
    ).collect()
    assert sorted(r._corrupt_record is not None for r in got) == [False, True]


def test_prepare_pretraining_data_end_to_end(spark):
    """The composed pipeline applies every stage: cleaning gates, exact
    dedup, decontamination, mixture sampling, deterministic order and
    packing — and survivors carry consistent columns."""
    from clinical_data_lake_spark.llm.corpus import prepare_pretraining_data

    def doc(i):
        # English markers (the/and/of) for the lang gate, interleaved
        # with per-doc words so no two docs share 3 consecutive tokens
        return (f"the number{i} and word{i} of thing{i} extra{i} "
                f"tail{i} closing{i} words{i}")

    rows = [(i, doc(i), "en") for i in range(20)]
    rows += [(101, doc(3), "en")]                 # exact duplicate of doc 3
    rows += [(102, "der und die " * 4, "de")]     # wrong language
    rows += [(103, "x", "en")]                    # too short
    docs = spark.createDataFrame(rows, schema="doc_id long, text string, lang string")
    bench = spark.createDataFrame([(999, doc(7))], schema="doc_id long, text string")
    out = prepare_pretraining_data(
        docs, benchmark=bench, budget=16, n_shards=2,
        mixture_rates={"en": 256},
    )
    got = {r.doc_id: r for r in out.collect()}
    assert 101 not in got            # exact dup dropped (doc 3 canonical)
    assert 102 not in got            # language gate
    assert 103 not in got            # length gate
    assert 7 not in got              # decontaminated (shares bench 3-grams)
    survivors = set(range(20)) - {7}
    assert set(got) == survivors
    for r in got.values():           # consistent packing/order columns
        assert r.shard in (0, 1) and r.position >= 1
        assert r.bin >= 0 and 0 <= r.bin_offset < 16


# ---------------------------------------------------------- chunk dedup


def test_chunk_dedup_removes_planted_boilerplate(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d e f g h"),
            Row(doc_id=2, text="a b c d x y z w"),
            Row(doc_id=3, text="p q r s t u v k"),
        ]
    )
    from clinical_data_lake_spark.llm.dedup import chunk_dedup

    out = {
        r.doc_id: r
        for r in chunk_dedup(docs, chunk_words=4, min_docs=2).collect()
    }
    assert out[1].clean_text == "e f g h" and out[1].n_removed == 1
    assert out[2].clean_text == "x y z w" and out[2].n_removed == 1
    assert out[3].clean_text == "p q r s t u v k" and out[3].n_removed == 0
    assert all(out[i].n_chunks == 2 for i in (1, 2, 3))


def test_chunk_dedup_identity_without_duplicates(spark):
    from clinical_data_lake_spark.llm.dedup import chunk_dedup

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"u{i} v{i} w{i} x{i} y{i}") for i in range(5)]
    )
    out = chunk_dedup(docs, chunk_words=4, min_docs=2).collect()
    originals = {i: f"u{i} v{i} w{i} x{i} y{i}" for i in range(5)}
    for r in out:
        # trailing short chunk ("y{i}") must survive reassembly intact
        assert r.clean_text == originals[r.doc_id]
        assert r.n_removed == 0 and r.n_chunks == 2


def test_chunk_dedup_all_boilerplate_doc_empties(spark):
    from clinical_data_lake_spark.llm.dedup import chunk_dedup

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="same old text"),
            Row(doc_id=2, text="same old text"),
            Row(doc_id=3, text="fresh words here"),
        ]
    )
    out = {r.doc_id: r for r in chunk_dedup(docs, chunk_words=4, min_docs=2).collect()}
    assert out[1].clean_text == "" and out[1].n_removed == 1
    assert out[2].clean_text == "" and out[2].n_removed == 1
    assert out[3].clean_text == "fresh words here"


# ----------------------------------------------------- int8 quantization


def test_quantize_embeddings_bounds_and_zero_guard(spark):
    from clinical_data_lake_spark.llm.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[2.0, -2.0, 1.0, 0.0]),
            Row(vec_id=1, embedding=[0.5, 0.25, -1.0, 2.0]),
        ]
    )
    q = {r.vec_id: r.q_embedding for r in quantize_embeddings(df).collect()}
    # scale = 2.0: x=2 -> 127, x=-2 -> floor(-127.0) = -127
    assert q[0] == [127, -127, 63, 0]
    assert q[1] == [31, 15, -64, 127]  # floor semantics: -1*63.5 -> -64
    assert all(-127 <= v <= 127 for vs in q.values() for v in vs)

    zeros = spark.createDataFrame([Row(vec_id=0, embedding=[0.0, 0.0])])
    qz = quantize_embeddings(zeros).collect()[0].q_embedding
    assert qz == [0, 0]


def test_quantized_topk_finds_planted_duplicate(spark, planted_embeddings):
    from clinical_data_lake_spark.llm.similarity import quantized_cosine_topk

    out = quantized_cosine_topk(
        planted_embeddings.filter(F.col("vec_id") < 5), planted_embeddings, k=3
    ).collect()
    top1 = {r.query_id: r for r in out if r.rnk == 1}
    for qid in range(5):
        assert top1[qid].neighbor_id == 100 + qid  # the planted near-dup
        assert top1[qid].sim > 0.99


# ------------------------------------------------------ text: new r6 ops


def test_truncate_tokens_budget_and_identity(spark):
    from clinical_data_lake_spark.functions.text import token_count, truncate_tokens

    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d e f"), Row(doc_id=2, text="x y")]
    ).select(
        "doc_id",
        truncate_tokens("text", 4).alias("t4"),
        truncate_tokens("text", 10).alias("t10"),
        "text",
    )
    out = {r.doc_id: r for r in df.collect()}
    assert out[1].t4 == "a b c d"
    assert out[1].t10 == out[1].text  # budget wider than doc: identity
    assert out[2].t4 == "x y"


def test_compression_ratio_separates_repetitive_from_random(spark):
    import random
    import string

    from clinical_data_lake_spark.functions.text import compression_ratio

    rnd = random.Random(13)
    noisy = "".join(rnd.choice(string.ascii_letters + string.digits) for _ in range(2000))
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="spam " * 400),   # boilerplate: compresses hard
            Row(doc_id=2, text=noisy),           # high entropy: barely compresses
            Row(doc_id=3, text=""),              # empty: defined as 1.0
        ]
    )
    out = {r.doc_id: r for r in compression_ratio(docs).collect()}
    assert out[1].ratio < 0.05
    assert out[2].ratio > 0.7
    assert out[3].ratio == 1.0
    assert out[1].n_bytes == 2000 and out[3].n_bytes == 0


def test_containment_catches_subset_duplication(spark):
    """A short doc fully quoted inside a long doc: containment(short in
    long) = 1.0 while Jaccard stays below a typical dup threshold."""
    from clinical_data_lake_spark.llm.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quoted = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i}" for i in range(60))
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=quoted),
            Row(doc_id=2, text=filler + " " + quoted),
            Row(doc_id=3, text="totally unrelated words only here"),
        ]
    )
    cont = {
        (r.doc_a, r.doc_b): r.containment
        for r in ngram_containment_pairs(docs, threshold=0.5).collect()
    }
    assert cont[(1, 2)] == 1.0          # short doc entirely inside long
    assert (2, 1) not in cont           # long doc is NOT inside short
    jac = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert jac == []                    # jaccard misses the subset dup


def test_soft_dedup_weights_unit_mass_per_cluster(spark):
    """A 3-doc near-dup chain gets weight 1/3 each; singletons keep
    weight 1.0; every doc appears exactly once and each cluster's
    weights sum to ~1."""
    from clinical_data_lake_spark.llm.dedup import soft_dedup_weights

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i}") for i in range(6)]
    )
    pairs = spark.createDataFrame(
        [Row(doc_a=1, doc_b=2), Row(doc_a=2, doc_b=4)]  # chain 1-2-4
    )
    out = {r.doc_id: r for r in soft_dedup_weights(docs, pairs).collect()}
    assert len(out) == 6
    for d in (1, 2, 4):
        assert (out[d].cluster_id, out[d].cluster_size) == (1, 3)
        assert out[d].weight == round(1 / 3, 6)
    for d in (0, 3, 5):
        assert (out[d].cluster_id, out[d].cluster_size, out[d].weight) == (d, 1, 1.0)


def test_pair_metrics_match_single_metric_operators(spark):
    """ngram_pair_metrics must agree with ngram_jaccard_pairs and
    ngram_containment_pairs on every pair — same numbers from ONE
    intersection pass instead of two; and the subset-dup case shows
    all three metrics at once."""
    from clinical_data_lake_spark.llm.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
        ngram_pair_metrics,
    )

    quoted = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i}" for i in range(60))
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=quoted),
            Row(doc_id=2, text=filler + " " + quoted),
            Row(doc_id=3, text=quoted + " extra tail words here"),
        ]
    )
    got = {
        (r.doc_a, r.doc_b): (r.jaccard, r.cont_a_in_b, r.cont_b_in_a)
        for r in ngram_pair_metrics(docs, threshold=0.01).collect()
    }
    jac = {
        (r.doc_a, r.doc_b): round(r.jaccard, 6)
        for r in ngram_jaccard_pairs(docs, threshold=0.01).collect()
    }
    cont = {
        (r.doc_a, r.doc_b): r.containment
        for r in ngram_containment_pairs(docs, threshold=0.01).collect()
    }
    assert set(got) == set(jac)
    for (a, b), (j, ca, cb) in got.items():
        assert j == jac[(a, b)]
        assert ca == cont[(a, b)]       # containment of a within b
        assert cb == cont[(b, a)]       # and the reverse direction
    assert got[(1, 2)][1] == 1.0        # short doc entirely inside long
    assert got[(1, 2)][0] < 0.5         # while jaccard stays low


def test_equidepth_histogram_equal_counts_and_ordered_edges(spark):
    from clinical_data_lake_spark.operators.aggregates import equidepth_histogram

    df = spark.createDataFrame(
        [Row(g="a", v=float(i), k=i) for i in range(40)]
        + [Row(g="b", v=float(i % 3), k=i) for i in range(12)]
    )
    out = equidepth_histogram(df, "g", "v", ["k"], buckets=4).collect()
    a = sorted((r.bucket, r.lo, r.hi, r.cnt) for r in out if r.g == "a")
    assert [r[3] for r in a] == [10, 10, 10, 10]         # equal depth
    assert a[0][1] == 0.0 and a[3][2] == 39.0            # full range covered
    for (b1, _, hi1, _), (b2, lo2, _, _) in zip(a, a[1:]):
        assert hi1 <= lo2                                 # non-overlapping edges
    b = sorted((r.bucket, r.cnt) for r in out if r.g == "b")
    assert [c for _, c in b] == [3, 3, 3, 3]             # ties split by position


# ------------------------------------------------ sorted neighborhood

def test_sorted_neighborhood_finds_prefix_dups(spark):
    from clinical_data_lake_spark.llm.dedup import sorted_neighborhood_pairs

    docs = spark.createDataFrame(
        [
            # near-identical pair sharing a long prefix
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            # unrelated docs that sort far away
            (3, "zulu yankee xray whiskey victor uniform tango sierra"),
            (4, "mike november oscar papa quebec romeo sierra tango"),
        ],
        ["doc_id", "text"],
    )
    out = sorted_neighborhood_pairs(docs, window=2, threshold=0.3).collect()
    pairs = {(r.doc_a, r.doc_b) for r in out}
    assert (1, 2) in pairs
    assert all(p == (1, 2) for p in pairs)
    j = {(r.doc_a, r.doc_b): r.jaccard for r in out}[(1, 2)]
    # 6 shingles each, 5 shared -> 5/7
    assert abs(j - 5 / 7) < 1e-9


def test_sorted_neighborhood_window_bounds_candidates(spark):
    from clinical_data_lake_spark.llm.dedup import sorted_neighborhood_pairs

    # identical texts BUT sorted >window apart cannot pair with w=2:
    # the decoys sit lexicographically between them
    docs = spark.createDataFrame(
        [
            (1, "aaa common tail one two three four"),
            (2, "bbb one two three four five six seven"),
            (3, "ccc eight nine ten eleven twelve thirteen"),
            (4, "ddd fourteen fifteen sixteen seventeen eighteen nineteen"),
            (5, "zzz common tail one two three four"),
        ],
        ["doc_id", "text"],
    )
    out = sorted_neighborhood_pairs(docs, window=2, threshold=0.2).collect()
    assert (1, 5) not in {(r.doc_a, r.doc_b) for r in out}
    # widening the window to cover the gap finds the pair
    out_wide = sorted_neighborhood_pairs(docs, window=5, threshold=0.2).collect()
    assert (1, 5) in {(r.doc_a, r.doc_b) for r in out_wide}


def test_sorted_neighborhood_rank_is_bucketed_not_global(spark):
    from clinical_data_lake_spark.llm.dedup import sorted_neighborhood_pairs

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc text number "), F.col("id").cast("string"),
                 F.lit(" filler words here")).alias("text"),
    )
    df = sorted_neighborhood_pairs(docs, window=3, threshold=0.99)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the doc-scale rank window (a running sum of 1) is partitioned by
    # the key-prefix bucket — never a global ORDER BY over the corpus
    ranks = [line for line in plan.splitlines() if "Window [sum(1) " in line]
    assert ranks
    for line in ranks:
        assert "__bkt__" in line, line
    # near-identical template texts differing by an id token: self-pairs
    # only, none survive a 0.99 threshold
    assert df.count() == 0


def test_simhash_long_doc_guard_raises(spark):
    """16-bit packed vote counters bound docs to 65535 tokens; the
    guard must fail LOUDLY, not bleed into the next counter."""
    from clinical_data_lake_spark.llm.dedup import simhash_docs

    ok = spark.createDataFrame([(1, "w " * 100)], ["doc_id", "text"])
    assert simhash_docs(ok).count() == 1

    # Depending on which bit positions the oversized counts land in,
    # either ANSI arithmetic overflow (top counter) or the explicit
    # assert_true guard (lower counters) fires — both are loud.
    too_long = spark.createDataFrame([(1, "w " * 70000)], ["doc_id", "text"])
    with pytest.raises(Exception, match="65535|ARITHMETIC_OVERFLOW"):
        simhash_docs(too_long).collect()


def test_prefix_filter_equals_exact_jaccard(spark):
    """PPJoin prefix filtering is LOSSLESS: its output must equal the
    exact all-pairs jaccard join at the same threshold, including on
    stop-shingle-heavy corpora where the max_doc_freq cap drops pairs."""
    from clinical_data_lake_spark.llm.dedup import prefix_filter_pairs

    base = "the common boilerplate header appears in every document here "
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=base + "unique tail alpha beta gamma"),
            Row(doc_id=2, text=base + "unique tail alpha beta delta"),
            Row(doc_id=3, text=base + "totally different ending words now"),
            Row(doc_id=4, text="no shared prefix content at all whatsoever"),
        ]
    )
    for t in (0.3, 0.5, 0.8):
        exact = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        pf = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in prefix_filter_pairs(docs, threshold=t).collect()
        }
        assert pf == exact, (t, pf, exact)


def test_prefix_filter_positional_filter_lossless(spark):
    """The PPJoin positional prune (k + min suffix bound vs alpha) must
    never drop a true pair: compare against exact all-pairs Jaccard at
    t in {0.5, 0.7, 0.9} on a corpus dense enough that the positional
    filter actually prunes (many docs sharing a heavy template with
    varying unique tails and lengths)."""
    from clinical_data_lake_spark.llm.dedup import prefix_filter_pairs

    tmpl = "shared template body words repeated across the whole corpus "
    rows = []
    for i in range(24):
        tail = " ".join(f"tok{i}x{j}" for j in range(i % 7))
        rows.append(Row(doc_id=i, text=tmpl * (1 + i % 3) + tail))
    docs = spark.createDataFrame(rows)
    for t in (0.5, 0.7, 0.9):
        exact = {
            (r.doc_a, r.doc_b): round(r.jaccard, 12)
            for r in ngram_jaccard_pairs(docs, threshold=t, max_doc_freq=10**9).collect()
        }
        pf = {
            (r.doc_a, r.doc_b): round(r.jaccard, 12)
            for r in prefix_filter_pairs(docs, threshold=t).collect()
        }
        assert pf == exact, (t, sorted(set(exact) - set(pf)), sorted(set(pf) - set(exact)))
    # the high-overlap pair is present at 0.5
    assert (1, 2) in {
        p for p in
        {(r.doc_a, r.doc_b) for r in prefix_filter_pairs(docs, threshold=0.5).collect()}
    }


def test_prefix_filter_suffix_filter_lossless(spark):
    """PPJoin+ depth-1 suffix filter (pivot on the middle token of
    SB, partition SA by the (df, hash) total order) must never drop a
    true pair AND the inline verification identity
    |A∩B| = k + |SA∩SB| must reproduce exact Jaccard values to the
    bit. Corpus built so suffixes are long and heterogeneous (the
    regime the suffix probe prunes in): a shared template plus
    per-doc shuffled unique middles and varying-length tails, with
    near-threshold pairs on both sides of alpha."""
    import random as _r

    from clinical_data_lake_spark.llm.dedup import prefix_filter_pairs

    tmpl = "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    mids = {}
    for g in range(5):
        mid = [f"m{g}w{j}" for j in range(8)]
        _r.Random(g).shuffle(mid)  # shuffled per GROUP: same-group docs
        mids[g] = " ".join(mid)    # share middle shingles, groups don't
    rows = []
    for i in range(30):
        tail = " ".join(f"t{i}x{j}" for j in range(i % 9))
        rows.append(
            Row(doc_id=i, text=tmpl + mids[i % 5] + " " + tail)
        )
    docs = spark.createDataFrame(rows)
    for t in (0.4, 0.6, 0.8):
        exact = {
            (r.doc_a, r.doc_b): round(r.jaccard, 12)
            for r in ngram_jaccard_pairs(
                docs, threshold=t, max_doc_freq=10**9
            ).collect()
        }
        pf = {
            (r.doc_a, r.doc_b): round(r.jaccard, 12)
            for r in prefix_filter_pairs(docs, threshold=t).collect()
        }
        assert pf == exact, (
            t,
            sorted(set(exact) - set(pf)),
            sorted(set(pf) - set(exact)),
        )
    assert len(
        {(r.doc_a, r.doc_b) for r in prefix_filter_pairs(docs, threshold=0.4).collect()}
    ) > 0


def test_nearest_prototype_recovers_planted_classes(spark):
    """On well-separated planted clusters, nearest-centroid must
    classify every member back to its own class with high sim."""
    import random as _r

    from clinical_data_lake_spark.llm.similarity import (
        class_prototypes, nearest_prototype, prototype_vectors,
    )

    rnd = _r.Random(11)
    centers = {0: [5.0] + [0.0] * 15, 1: [0.0] * 8 + [5.0] + [0.0] * 7}
    rows = []
    for i in range(60):
        lbl = i % 2
        rows.append(Row(
            vec_id=i, label=lbl,
            embedding=[float(x + rnd.gauss(0, 0.1)) for x in centers[lbl]],
        ))
    emb = spark.createDataFrame(rows)
    protos = prototype_vectors(class_prototypes(emb))
    assert protos.count() == 2
    pred = {r.vec_id: (r.pred_label, r.sim)
            for r in nearest_prototype(emb, protos).collect()}
    assert all(pred[i][0] == i % 2 for i in range(60))
    assert all(s > 0.9 for _, s in pred.values())


def test_semantic_dedup_drops_planted_near_dups(spark, planted_embeddings):
    """Planted near-dups (cosine > 0.99) must land in the SAME cell and
    collapse to one survivor; unrelated vectors all survive."""
    from clinical_data_lake_spark.llm.similarity import semantic_dedup

    emb = planted_embeddings  # 40 base + 5 perturbed copies of 0..4
    out = {r.vec_id: r.cell for r in
           semantic_dedup(emb, n_cells=4, threshold=0.95).collect()}
    survivors = set(out)
    # min id of each pair always survives
    assert all(i in survivors for i in range(5))
    # the CONTRACT: a planted dup is dropped iff it shares its
    # source's cell (within-cell only — the SemDeDup trade; pairs
    # straddling a cell boundary are the method's documented misses)
    n_dropped = 0
    for i in range(5):
        if 100 + i in survivors:
            assert out[100 + i] != out[i], f"co-celled dup {100+i} survived"
        else:
            n_dropped += 1
    assert n_dropped >= 3  # random centroids still catch most pairs
    assert len(survivors) == 40 + (5 - n_dropped)
    # single cell degenerates to exact global dedup: all 5 dropped
    full = {r.vec_id for r in
            semantic_dedup(emb, n_cells=1, threshold=0.95).collect()}
    assert full == set(range(40))


def test_semantic_dedup_target_cell_size_scales_cells(spark, planted_embeddings):
    """target_cell_size derives n_cells = max(n_cells, ceil(N/target))
    — the k-grows-with-N rule that keeps the within-cell pair term
    linear (a fixed cell count measured alpha~1.8 at the sf1->sf10
    decade). Result must equal the explicit-n_cells call it resolves
    to, and the floor must win when the corpus is small."""
    from clinical_data_lake_spark.llm.similarity import semantic_dedup

    emb = planted_embeddings  # 45 rows
    # ceil(45/10) = 5 > floor 2 -> 5 cells
    derived = sorted(
        (r.vec_id, r.cell)
        for r in semantic_dedup(
            emb, n_cells=2, threshold=0.95, target_cell_size=10
        ).collect()
    )
    explicit = sorted(
        (r.vec_id, r.cell)
        for r in semantic_dedup(emb, n_cells=5, threshold=0.95).collect()
    )
    assert derived == explicit
    assert max(c for _, c in derived) == 4
    # large target: floor n_cells wins (ceil(45/1000) = 1 < 2)
    floor = semantic_dedup(
        emb, n_cells=2, threshold=0.95, target_cell_size=1000
    )
    assert max(r.cell for r in floor.collect()) <= 1


def test_embedding_dim_stats_closed_form(spark):
    """Planted vectors: dim 0 = [1,3] (mean 2, var 1), dim 1 = [0,0]
    (dead: var 0, zero_frac 1), dim 2 = [-1,1] (mean 0, var 1,
    min/max walls)."""
    from clinical_data_lake_spark.llm.similarity import embedding_dim_stats

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, -1.0]), (2, [3.0, 0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r.pos: r for r in embedding_dim_stats(emb).collect()}
    assert rows[0].n == 2 and rows[0].mean_val == 2.0 and rows[0].var_val == 1.0
    assert rows[0].zero_frac == 0.0
    assert rows[1].var_val == 0.0 and rows[1].zero_frac == 1.0
    assert rows[2].mean_val == 0.0 and rows[2].min_val == -1.0
    assert rows[2].max_val == 1.0
