"""Property-based tests (hypothesis) for the operators whose edge cases
are input-shape-dependent: the bucketed global prefix sum on arbitrary
orders and de-identification invariants. Example counts are small —
every example is a Spark job."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from clinical_data_lake_spark.functions.scalar import deidentify
from clinical_data_lake_spark.operators.windows import bucketed_prefix_sums, range_buckets

# (value, key, w1, w2) per row; ids are the row positions. Small values
# force ties, 2^40-wide ones spread the range tiles.
_rows = st.lists(
    st.tuples(
        st.one_of(st.integers(-3, 3), st.integers(-(2**40), 2**40)),
        st.text(alphabet="abc", max_size=4),
        st.integers(0, 100),
        st.integers(-50, 50),
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=_rows, mode=st.sampled_from(["asc", "desc", "prefix"]))
@example(rows=[(7, "b", 3, -1)] * 4, mode="asc")  # hi == lo
@example(rows=[(0, "", 5, 5)], mode="desc")  # a single row
def test_bucketed_prefix_sums_match_sorted_cumsum(spark, rows, mode):
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)], schema="id long, v long, k string, w1 long, w2 long"
    )
    bucketed, order, key = {
        "asc": (range_buckets(df, F.col("v"), 7), ["v", "id"], lambda r: (r[1], r[0])),
        "desc": (
            range_buckets(df, -F.col("v"), 7), [F.col("v").desc(), "id"],
            lambda r: (-r[1], r[0]),
        ),
        "prefix": (
            df.withColumn("__bkt__", F.substring("k", 1, 1)), ["k", "id"],
            lambda r: (r[2], r[0]),
        ),
    }[mode]
    out = bucketed_prefix_sums(
        bucketed, order, {"rk": F.lit(1), "s1": F.col("w1"), "s2": F.col("w2")},
        totals={"s2": "t2"},
    )
    assert out.columns == df.columns + ["rk", "s1", "s2", "t2"]
    assert dict(out.dtypes)["rk"] == "bigint"
    got = {r.id: (r.rk, r.s1, r.s2, r.t2) for r in out.collect()}
    want, s1, s2 = {}, 0, 0
    for rk, r in enumerate(sorted(((i, *r) for i, r in enumerate(rows)), key=key), 1):
        s1, s2 = s1 + r[3], s2 + r[4]
        want[r[0]] = (rk, s1, s2, sum(w2 for *_, w2 in rows))
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    names=st.lists(st.one_of(st.none(), st.text(max_size=20)), min_size=1, max_size=20),
)
def test_deidentify_invariants(spark, names):
    rows = [Row(k=i, name=n) for i, n in enumerate(names)]
    df = spark.createDataFrame(rows, schema="k long, name string")
    out = {r.k: r for r in deidentify(df, ["name"]).collect()}
    for i, n in enumerate(names):
        hashed = out[i].name
        assert hashed is not None and len(hashed) == 64  # sha2-256 hex, nulls prefilled
        assert out[i].k == i  # non-PII untouched
    # equal inputs hash equal; the map is deterministic
    by_input: dict = {}
    for i, n in enumerate(names):
        key = n if n is not None else "\x00"
        by_input.setdefault(key, set()).add(out[i].name)
    assert all(len(v) == 1 for v in by_input.values())


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    toks=st.lists(st.integers(min_value=0, max_value=600), min_size=1, max_size=50),
    budget=st.integers(min_value=16, max_value=512),
)
def test_pack_concat_replay_property(spark, toks, budget):
    """For arbitrary token counts and budgets, pack_concat must equal
    the sequential concat-and-cut replay within each shard."""
    from clinical_data_lake_spark.llm.packing import pack_concat

    rows = [(i, t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, schema="doc_id long, n_tokens long")
    got = {r.doc_id: r for r in
           pack_concat(df, budget=budget, shards=3, shard_by_hash=False).collect()}
    for shard in range(3):
        start = 0
        for doc_id, n in rows:
            if doc_id % 3 != shard:
                continue
            r = got[doc_id]
            end = start + n
            assert r.bin == start // budget
            assert r.bin_offset == start % budget
            assert r.split == (n > 0 and start // budget != (end - 1) // budget)
            start = end


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    keys=st.lists(st.integers(min_value=-(2**40), max_value=2**40),
                  min_size=1, max_size=60, unique=True),
    n_256=st.integers(min_value=1, max_value=256),
)
def test_hash_sample_subset_monotone(spark, keys, n_256):
    """hash_sample selections are nested: the n_256 sample is a superset
    of every smaller-rate sample of the same keys (the property that
    makes rate changes safe mid-pipeline), and rate 256 keeps all."""
    from clinical_data_lake_spark.operators.sampling import hash_sample

    df = spark.createDataFrame([Row(k=v) for v in keys], schema="k long")
    big = {r.k for r in hash_sample(df, "k", n_256).collect()}
    small = {r.k for r in hash_sample(df, "k", max(1, n_256 // 2)).collect()}
    assert small <= big
    assert {r.k for r in hash_sample(df, "k", 256).collect()} == set(keys)


def test_weighted_sample_favors_heavy_rows(spark):
    """A-ES: a row with overwhelming weight is (near-)always included;
    inclusion frequency tracks weight. With one row at weight 1e6 and
    99 at weight 1, the heavy row's -ln(u)/w is ~1e-6 x anything else."""
    from clinical_data_lake_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    rows = [Row(g="a", k=i, w=1.0) for i in range(99)] + [
        Row(g="a", k=999, w=1e6)
    ]
    df = spark.createDataFrame(rows)
    got = weighted_sample_per_group(df, "g", "k", "w", k=10)
    kept = {r.k for r in got.collect()}
    assert 999 in kept and len(kept) == 10


def test_weighted_sample_deterministic_across_partitionings(spark):
    from clinical_data_lake_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    rows = [Row(g=str(i % 3), k=i, w=float(1 + i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows)
    a = {tuple(r) for r in weighted_sample_per_group(df, "g", "k", "w", 5).collect()}
    b = {
        tuple(r)
        for r in weighted_sample_per_group(
            df.repartition(13), "g", "k", "w", 5
        ).collect()
    }
    assert a == b and len(a) == 15


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=12).map(" ".join),
        min_size=1, max_size=8,
    ),
    chunk_words=st.integers(min_value=1, max_value=5),
)
def test_chunk_dedup_properties(spark, docs, chunk_words):
    """Invariants on random corpora: with an unreachable min_docs the
    op is the identity; always, kept+removed chunks account for every
    chunk and clean_text never gains words."""
    from clinical_data_lake_spark.llm.dedup import chunk_dedup

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(docs)]
    )
    ident = chunk_dedup(df, chunk_words=chunk_words, min_docs=len(docs) + 1)
    for r in ident.collect():
        assert r.clean_text == docs[r.doc_id] and r.n_removed == 0

    out = chunk_dedup(df, chunk_words=chunk_words, min_docs=2)
    for r in out.collect():
        n_words = len(docs[r.doc_id].split(" "))
        expect_chunks = -(-n_words // chunk_words)  # ceil
        assert r.n_chunks == expect_chunks
        assert 0 <= r.n_removed <= r.n_chunks
        if r.n_removed == 0:
            assert r.clean_text == docs[r.doc_id]
        else:
            assert len(r.clean_text) < len(docs[r.doc_id])


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    iv=st.lists(
        st.tuples(st.integers(0, 50), st.integers(1, 20)),
        min_size=1, max_size=20,
    )
)
def test_merge_intervals_properties(spark, iv):
    """Random interval sets: merged spans are disjoint with gaps
    between them, cover every input, and n_merged sums to the input
    row count."""
    from clinical_data_lake_spark.operators.timeseries import merge_intervals

    rows = [Row(k=1, s=s, e=s + d) for s, d in iv]
    out = sorted(
        (r.start, r.end, r.n_merged)
        for r in merge_intervals(spark.createDataFrame(rows), "k", "s", "e").collect()
    )
    assert sum(n for _, _, n in out) == len(rows)
    for (s1, e1, _), (s2, e2, _) in zip(out, out[1:]):
        assert e1 < s2  # strictly disjoint with a real gap
    for r in rows:
        assert any(s <= r.s and r.e <= e for s, e, _ in out)  # covered


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    n_tokens=st.lists(st.integers(min_value=1, max_value=120), min_size=1, max_size=8),
    chunk=st.integers(min_value=2, max_value=32),
    overlap_frac=st.floats(min_value=0.0, max_value=0.9),
)
def test_split_to_chunks_properties(spark, n_tokens, chunk, overlap_frac):
    """For arbitrary doc lengths and (chunk, overlap) combinations:
    every token position is covered, chunk starts advance by exactly
    step, every chunk except the last is full-size, and dropping each
    chunk's first `overlap` tokens (after chunk 0) reconstructs the
    document exactly."""
    from clinical_data_lake_spark.llm.packing import split_to_chunks

    overlap = min(int(chunk * overlap_frac), chunk - 1)
    step = chunk - overlap
    docs = [(d, " ".join(f"d{d}w{i}" for i in range(n))) for d, n in enumerate(n_tokens)]
    df = spark.createDataFrame(docs, schema="doc_id long, text string")
    out = split_to_chunks(df, chunk_tokens=chunk, overlap=overlap)
    rows = sorted(
        ((r.doc_id, r.chunk_id, r.chunk_text, r.n_tokens) for r in out.collect())
    )
    by_doc: dict[int, list] = {}
    for d, c, txt, nt in rows:
        by_doc.setdefault(d, []).append((c, txt.split(" "), nt))
    for d, n in enumerate(n_tokens):
        chunks = by_doc[d]
        assert [c for c, _, _ in chunks] == list(range(len(chunks)))
        toks = [f"d{d}w{i}" for i in range(n)]
        rebuilt = []
        for c, words, nt in chunks:
            assert nt == len(words)
            assert words == toks[c * step : c * step + chunk]  # exact placement
            if c < len(chunks) - 1:
                assert nt == chunk  # only the tail may be short
            rebuilt.extend(words if c == 0 else words[overlap:])
        assert rebuilt == toks  # full coverage, no token lost or duplicated


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    names=st.lists(
        st.text(alphabet="abcx", min_size=0, max_size=9), min_size=1,
        max_size=24, unique=True,
    ),
    d=st.integers(min_value=0, max_value=3),
)
def test_fuzzy_join_equals_brute_force(spark, names, d):
    """Length-band blocking is lossless on arbitrary strings: the
    emitted pair set equals the brute-force levenshtein filter —
    including empty strings, duplicates-of-length, and distances that
    straddle two band boundaries."""
    from clinical_data_lake_spark.operators.joins import fuzzy_join

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    a = spark.createDataFrame([(n,) for n in names], schema="name_a string")
    b = spark.createDataFrame([(n,) for n in names], schema="name_b string")
    got = sorted(
        (r.name_a, r.name_b, r.edit_dist)
        for r in fuzzy_join(a, b, "name_a", "name_b", max_dist=d).collect()
    )
    want = sorted(
        (x, y, lev(x, y)) for x in names for y in names if lev(x, y) <= d
    )
    assert got == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=40),           # n_tokens
            st.sampled_from([0.0, 0.1, 0.25, 0.5, 0.5, 0.9]), # quality (ties!)
        ),
        min_size=1, max_size=60,
    ),
    budget=st.integers(min_value=0, max_value=600),
)
def test_budget_select_equals_global_cumsum(spark, rows, budget):
    """The bucketed prefix-sum reproduces the global ordered cumulative
    cutoff for arbitrary token counts, tie-heavy qualities, and
    budgets (including 0 and over-budget)."""
    from clinical_data_lake_spark.llm.corpus import budget_select

    data = [(i, t, q) for i, (t, q) in enumerate(rows)]
    df = spark.createDataFrame(data, schema="doc_id long, n_tokens long, quality double")
    got = sorted(
        (r.doc_id, r.cum_tokens)
        for r in budget_select(df, budget, num_buckets=4).collect()
    )
    want, cum = [], 0
    for i, t, q in sorted(data, key=lambda r: (-r[2], r[0])):
        cum += t
        if cum <= budget:
            want.append((i, cum))
    assert got == sorted(want)


def test_grouping_sets_closed_form(spark):
    from clinical_data_lake_spark.operators.aggregates import grouping_sets_agg

    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 4.0)], ["g1", "g2", "v"]
    )
    out = {(r.g1, r.g2, r.gid): (r.cnt, r.sum_value)
           for r in grouping_sets_agg(
               df, sets=[["g1", "g2"], ["g1"], []], keys=["g1", "g2"],
               value_col="v").collect()}
    assert out[("a", "x", 0)] == (1, 1.0)
    assert out[("a", None, 1)] == (2, 3.0)      # g2 aggregated away -> bit 1
    assert out[("b", None, 1)] == (1, 4.0)
    assert out[(None, None, 3)] == (3, 7.0)     # grand total -> both bits
    assert len(out) == 6


def test_top_n_with_others_closed_form(spark):
    from clinical_data_lake_spark.operators.sorts import top_n_with_others

    rows = (
        [("g", "a", 10.0)] * 5 + [("g", "b", 1.0)] * 3
        + [("g", "c", 2.0)] * 2 + [("g", "d", 1.0)] * 1
    )
    df = spark.createDataFrame(rows, ["grp", "lbl", "v"])
    out = {r.lbl: (r.cnt, r.sum_value)
           for r in top_n_with_others(df, ["grp"], "lbl", n=2, value_col="v").collect()}
    assert out["a"] == (5, 50.0)
    assert out["b"] == (3, 3.0)
    assert out["(other)"] == (3, 5.0)   # c(2) + d(1) collapsed, mass kept
    assert "c" not in out and "d" not in out


def test_top_n_with_others_no_tail_row_when_no_tail(spark):
    from clinical_data_lake_spark.operators.sorts import top_n_with_others

    df = spark.createDataFrame([("g", "a"), ("g", "b")], ["grp", "lbl"])
    out = top_n_with_others(df, ["grp"], "lbl", n=5).collect()
    assert {r.lbl for r in out} == {"a", "b"}


def test_activity_rollup_closed_form(spark):
    import datetime as _dt

    from clinical_data_lake_spark.operators.cohort import activity_rollup

    d = lambda s: _dt.datetime.fromisoformat(s)  # noqa: E731
    ev = spark.createDataFrame(
        [
            (1, d("2024-01-01T10:00")), (1, d("2024-01-01T11:00")),  # dup same day
            (1, d("2024-01-02T10:00")),
            (2, d("2024-01-02T10:00")),
            (3, d("2024-01-03T10:00")),
        ],
        ["user_id", "ts"],
    )
    out = {str(r.day): (r.active_users, r.new_users, r.returning_users)
           for r in activity_rollup(ev).collect()}
    assert out["2024-01-01"] == (1, 1, 0)
    assert out["2024-01-02"] == (2, 1, 1)   # user1 returns, user2 new
    assert out["2024-01-03"] == (1, 1, 0)


def test_negative_samples_match_python_ring(spark):
    """The hash-ring match must agree with a literal Python md5
    reimplementation: clockwise next id, wraparound, exclusion, k cut."""
    import hashlib

    from clinical_data_lake_spark.operators.sampling import negative_samples

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    corpus_ids = list(range(1, 21))
    ring = sorted((md5(str(i)), i) for i in corpus_ids)

    def ring_next(pos):
        for p, i in ring:
            if p >= pos:
                return i
        return ring[0][1]

    anchors = [100, 101, 102]
    k, m, seed = 3, 5, 42
    corpus = spark.createDataFrame([(i,) for i in corpus_ids], ["doc_id"])
    adf = spark.createDataFrame([(a,) for a in anchors], ["query_id"])

    # no exclusion: first k slots verbatim
    got = {(r.query_id, r.neg_rank): r.doc_id
           for r in negative_samples(adf, corpus, k=k, oversample=m - k,
                                     seed=seed).collect()}
    for a in anchors:
        expected = [ring_next(md5(f"{a}:{s}:{seed}")) for s in range(m)][:k]
        assert [got[(a, r)] for r in (1, 2, 3)] == expected

    # excluding anchor 100's slot-0 hit shifts its ranks to later slots
    slot_hits = [ring_next(md5(f"100:{s}:{seed}")) for s in range(m)]
    pos = spark.createDataFrame([(100, slot_hits[0])], ["query_id", "doc_id"])
    got2 = {(r.query_id, r.neg_rank): r.doc_id
            for r in negative_samples(adf, corpus, k=k, oversample=m - k,
                                      seed=seed, positives=pos).collect()}
    survivors = [h for h in slot_hits if h != slot_hits[0]][:k]
    assert [got2[(100, r)] for r in range(1, len(survivors) + 1)] == survivors
    # other anchors unaffected
    assert got2[(101, 1)] == got[(101, 1)]


def test_pareto_closed_form(spark):
    from clinical_data_lake_spark.operators.aggregates import pareto_analysis

    # values 50, 30, 15, 5 -> cumulative 0.5, 0.8, 0.95, 1.0
    df = spark.createDataFrame(
        [("a", 50.0), ("b", 30.0), ("c", 15.0), ("d", 5.0)], ["k", "v"]
    )
    out = {r.k: r for r in pareto_analysis(df, ["k"], "v", top_share=0.8).collect()}
    assert out["a"].share == 0.5 and out["a"].cum_share == 0.5
    assert out["b"].cum_share == 0.8
    # head = keys whose cum start is strictly below 0.8 of total
    assert out["a"].in_top and out["b"].in_top
    assert not out["c"].in_top and not out["d"].in_top


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1, max_size=40,
    ),
)
def test_skyline_equals_brute_force_dominance(spark, pts):
    """For arbitrary point sets, the sort-scan skyline must equal the
    O(n^2) dominance definition on the distinct point set."""
    from clinical_data_lake_spark.operators.sorts import skyline_2d

    df = spark.createDataFrame(
        [Row(k="g", x=x, y=y) for x, y in pts], schema="k string, x long, y long"
    )
    got = {(r.x, r.y) for r in skyline_2d(df, ["k"], "x", "y").collect()}
    uniq = set(pts)
    want = {
        p for p in uniq
        if not any(
            q != p and q[0] >= p[0] and q[1] >= p[1] for q in uniq
        )
    }
    assert got == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vals=st.lists(st.floats(0.0, 99.0, allow_nan=False), min_size=1, max_size=60),
    n_bins=st.integers(min_value=2, max_value=16),
)
def test_histogram_merge_associativity(spark, vals, n_bins):
    """Fixed-bin histograms must merge exactly: quantiles from
    arbitrarily re-keyed sub-histograms equal the direct computation."""
    from clinical_data_lake_spark.operators.aggregates import (
        histogram_quantile,
        histogram_rollup,
    )

    rows = [Row(k="g", sub=f"s{i % 3}", v=float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, schema="k string, sub string, v double")
    direct = histogram_quantile(
        histogram_rollup(df, ["k"], "v", 0.0, 100.0, n_bins),
        ["k"], 0.5, 0.0, 100.0, n_bins,
    ).collect()[0]
    merged = histogram_quantile(
        histogram_rollup(df, ["k", "sub"], "v", 0.0, 100.0, n_bins),
        ["k"], 0.5, 0.0, 100.0, n_bins,
    ).collect()[0]
    assert (direct.n, direct.q_est) == (merged.n, merged.q_est)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1, max_size=25,
    ),
)
def test_lpa_matches_python_synchronous_schedule(spark, edges):
    """label_propagation must equal a pure-python synchronous LPA with
    the same min-tie-break on arbitrary graphs."""
    from clinical_data_lake_spark.operators.graph import label_propagation

    df = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in edges], schema="src long, dst long"
    )
    got = {r.node: r.label for r in label_propagation(df, k=3).collect()}
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {n: n for n in adj}
    for _ in range(3):
        nxt = {}
        for n, nbrs in adj.items():
            counts: dict = {}
            for m in nbrs:
                counts[labels[m]] = counts.get(labels[m], 0) + 1
            best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            nxt[n] = best
        labels = nxt
    assert got == labels


_edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),
        st.integers(min_value=0, max_value=40),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=40,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=_edge_lists)
def test_cluster_safe_split_never_leaks_property(spark, edges):
    """For ARBITRARY near-dup pair graphs, cluster_safe_split must
    never place a pair's endpoints in different splits, must cover
    every doc exactly once, and must label each component by its
    minimum id (verified against a pure-Python union-find)."""
    from clinical_data_lake_spark.llm.dedup import (
        cluster_safe_split,
        split_leakage_audit,
    )

    n_docs = 41
    docs = spark.createDataFrame(
        [Row(doc_id=i) for i in range(n_docs)], schema="doc_id long"
    )
    pairs = spark.createDataFrame(
        [Row(doc_a=a, doc_b=b) for a, b in edges],
        schema="doc_a long, doc_b long",
    )
    out = {r.doc_id: r for r in cluster_safe_split(docs, pairs).collect()}
    assert len(out) == n_docs
    # union-find ground truth
    parent = list(range(n_docs))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict = {}
    for i in range(n_docs):
        comp.setdefault(find(i), []).append(i)
    for members in comp.values():
        want_label = min(members)
        assert {out[m].cluster_id for m in members} == {want_label}
        assert len({out[m].split for m in members}) == 1
    # and the audit agrees: zero off-diagonal mass
    audit = split_leakage_audit(
        pairs, cluster_safe_split(docs, pairs)
    ).collect()
    assert all(r.leaked == 0 for r in audit)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab X"), min_size=0, max_size=12
        ),
        min_size=1,
        max_size=25,
    )
)
def test_dup_rate_profile_mass_conservation(spark, texts):
    """For arbitrary corpora: n_docs = slice row count, n_redundant =
    n_docs - n_distinct >= 0, max_group <= n_docs, and dup_rate is the
    stated ratio."""
    from clinical_data_lake_spark.llm.dedup import dup_rate_profile

    docs = spark.createDataFrame(
        [Row(lang="en", source="s", text=t) for t in texts],
        schema="lang string, source string, text string",
    )
    r = dup_rate_profile(docs).collect()[0]
    assert r.n_docs == len(texts)
    assert r.n_redundant == r.n_docs - r.n_distinct >= 0
    assert 1 <= r.max_group <= r.n_docs
    assert r.dup_rate == round(r.n_redundant / r.n_docs, 6)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    counts=st.lists(st.integers(min_value=1, max_value=60),
                    min_size=1, max_size=20),
    limits=st.lists(st.integers(min_value=1, max_value=80),
                    min_size=2, max_size=3, unique=True),
)
def test_truncation_loss_monotone_in_limit(spark, counts, limits):
    """A larger context limit can never lose MORE tokens or truncate
    more documents; totals conserve."""
    from clinical_data_lake_spark.llm.packing import truncation_loss

    docs = spark.createDataFrame(
        [Row(lang="en", text=" ".join(["w"] * c)) for c in counts],
        schema="lang string, text string",
    )
    out = {
        r.max_len: r
        for r in truncation_loss(docs, limits=tuple(limits)).collect()
    }
    total = sum(counts)
    for L in limits:
        r = out[L]
        assert r.n_tokens == total
        assert r.n_tokens_lost == sum(max(0, c - L) for c in counts)
        assert r.n_truncated == sum(1 for c in counts if c > L)
    ordered = sorted(limits)
    for lo, hi in zip(ordered, ordered[1:]):
        assert out[hi].n_tokens_lost <= out[lo].n_tokens_lost
        assert out[hi].n_truncated <= out[lo].n_truncated


_corpus = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
        min_size=0, max_size=15,
    ).map(" ".join),
    min_size=1, max_size=15,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=_corpus)
def test_zipf_fit_matches_pure_python_ols(spark, texts):
    """zipf_fit must equal an independent pure-Python replay (token
    counts -> (freq desc, token asc) rank -> round-14 OLS terms) to
    the emitted 1e-9 rounding."""
    import math
    from collections import Counter

    from clinical_data_lake_spark.functions.text import zipf_fit

    docs = spark.createDataFrame(
        [Row(lang="en", text=t) for t in texts],
        schema="lang string, text string",
    )
    rows = zipf_fit(docs, top_k=4).collect()
    counts = Counter(
        tok
        for t in texts
        for tok in " ".join(t.lower().strip().split()).split(" ")
        if tok
    )
    if not counts:
        assert rows == []
        return
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:4]
    xs = [round(math.log(i + 1), 14) for i in range(len(ranked))]
    ys = [round(math.log(f), 14) for _, f in ranked]
    n = float(len(ranked))
    sx, sy = sum(xs), sum(ys)
    sxx = sum(round(x * x, 14) for x in xs)
    sxy = sum(round(x * y, 14) for x, y in zip(xs, ys))
    denom = n * sxx - sx * sx
    import pytest

    r = rows[0]
    assert r.n_terms == len(ranked)
    if denom == 0:
        assert r.zipf_slope is None and r.zipf_intercept is None
    else:
        slope = (n * sxy - sx * sy) / denom
        assert r.zipf_slope == pytest.approx(slope, abs=2e-9)
        assert r.zipf_intercept == pytest.approx(
            (sy - slope * sx) / n, abs=2e-9
        )


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=_corpus)
def test_ngram_diversity_matches_pure_python(spark, texts):
    from collections import Counter

    from clinical_data_lake_spark.functions.text import ngram_diversity

    docs = spark.createDataFrame(
        [Row(lang="en", text=t) for t in texts],
        schema="lang string, text string",
    )
    rows = ngram_diversity(docs).collect()
    grams = Counter()
    for t in texts:
        w = " ".join(t.lower().strip().split()).split(" ")
        if len(w) >= 3:
            for i in range(len(w) - 2):
                grams[" ".join(w[i:i + 3])] += 1
    if not grams:
        assert rows == []
        return
    r = rows[0]
    assert r.n_ngrams == sum(grams.values())
    assert r.n_distinct == len(grams)
    assert r.diversity == round(len(grams) / sum(grams.values()), 6)
