"""llm_curation — LLM training-data curation over a seeded corpus with
planted duplicates and an embedding table with planted neighbours. One
operation is one curation pass:

    llm.dedup.exact_dedup_groups -> llm.dedup.minhash_lsh_pairs ->
    llm.dedup.verified_near_dup_pairs -> llm.dedup.dup_clusters ->
    llm.similarity.cosine_topk -> llm.corpus.prepare_pretraining_data

Text and array kernels dominate; catalog and ml are not used. LSH
candidate volume depends on the duplicate share, which the manifest
records.
"""

from __future__ import annotations

import os
import sys

import numpy as np

from .. import gen, stats

N_DOCS = 1000
N_VECTORS = 1000
N_QUERIES = 100
TOP_K = 10
NEAR_THRESHOLD = 0.8
RECALL_FLOOR = 0.95
# cosines closer than this count as tied in the top-k comparison
SIM_TOL = 1e-6


class LlmCuration:
    name = "llm_curation"
    warmup_ops = 1

    def generate(self, ctx) -> dict:
        return gen.generate_corpus(ctx.inputs, ctx.seed, N_DOCS, n_vectors=N_VECTORS)

    def prepare(self, ctx) -> None:
        gen.write_manifest(ctx.work, ctx.manifest)
        ctx.state["outputs"] = []

    def _targets(self):
        from clinical_data_lake_spark.llm import corpus, dedup, similarity

        def rows(args, kwargs, out):
            return {"rows": out.count()}

        return [
            (dedup, "exact_dedup_groups", "llm.dedup.exact_dedup_groups", {}),
            (dedup, "minhash_lsh_pairs", "llm.dedup.minhash_lsh_pairs", {"after": rows}),
            (dedup, "verified_near_dup_pairs", "llm.dedup.verified_near_dup_pairs",
             {"after": rows}),
            (dedup, "dup_clusters", "llm.dedup.dup_clusters", {}),
            (similarity, "cosine_topk", "llm.similarity.cosine_topk", {}),
            (corpus, "prepare_pretraining_data", "llm.corpus.prepare_pretraining_data", {}),
        ]

    def op(self, ctx) -> None:
        from pyspark.sql import functions as F

        from clinical_data_lake_spark.io import read_jsonl
        from clinical_data_lake_spark.llm import corpus, dedup, similarity
        from clinical_data_lake_spark.operators.caching import release_persisted

        spark = ctx.spark
        with ctx.tracer.patched(self._targets()):
            docs = read_jsonl(spark, os.path.join(ctx.inputs, "documents.jsonl"),
                              "doc_id long, text string")
            emb = read_jsonl(spark, os.path.join(ctx.inputs, "embeddings.jsonl"),
                             "vec_id long, embedding array<float>")
            groups = (dedup.exact_dedup_groups(docs).filter(F.col("n_copies") > 1)
                      .select("keep_id", "n_copies").collect())
            cand = dedup.minhash_lsh_pairs(docs)
            verified = dedup.verified_near_dup_pairs(docs, cand, threshold=NEAR_THRESHOLD)
            clusters = dedup.dup_clusters(verified).collect()
            topk = similarity.cosine_topk(emb.filter(F.col("vec_id") < N_QUERIES), emb,
                                          k=TOP_K).collect()
            kept = corpus.prepare_pretraining_data(docs).select("doc_id").collect()
        with ctx.tracer.span("operators.caching.release_persisted") as s:
            released = release_persisted()
        if s is not None:
            s.counts = {"released": released}
        ctx.state["outputs"].append((ctx.op_index, {
            "groups": sorted((r["keep_id"], r["n_copies"]) for r in groups),
            "clusters": {r["doc_id"]: r["cluster_id"] for r in clusters},
            "topk": [(r["query_id"], r["rnk"], r["neighbor_id"], r["sim"]) for r in topk],
            "kept": [r["doc_id"] for r in kept],
        }))

    def check(self, ctx) -> list[int]:
        """Exact-duplicate groups equal the planted set; near-duplicate
        recall of the planted pairs meets a floor; cosine top-k equals a
        NumPy brute force; the pretraining output keeps one document per
        exact-duplicate text."""
        m = ctx.manifest
        want_groups = sorted((min(g), len(g)) for g in m["exact_groups"])
        want_topk = _numpy_topk(os.path.join(ctx.inputs, "embeddings.jsonl"))
        texts = gen.load_texts(os.path.join(ctx.inputs, "documents.jsonl"))
        failed = []
        for i, out in ctx.state["outputs"]:
            problems = []
            if out["groups"] != want_groups:
                problems.append(f"exact groups {out['groups'][:5]} != {want_groups[:5]}")
            cl = out["clusters"]
            found = sum(1 for a, b in m["near_pairs"]
                        if a in cl and cl.get(a) == cl.get(b))
            recall = found / max(1, len(m["near_pairs"]))
            if recall < RECALL_FLOOR:
                problems.append(f"near-duplicate recall {recall:.3f} < {RECALL_FLOOR}")
            if not _topk_equal(out["topk"], want_topk):
                problems.append("cosine_topk differs from the NumPy brute force")
            kept = out["kept"]
            norm = {gen.normalized(texts[d]) for d in kept}
            if len(set(kept)) != len(kept) or len(norm) != len(kept):
                problems.append("pretraining output keeps a duplicate document")
            if problems:
                print(f"llm_curation check failed: op {i}: {problems}", file=sys.stderr)
                failed.append(i)
        return failed

    def detail(self, ctx, lat) -> dict:
        m = ctx.manifest
        return {
            "rows": m["rows"], "input_bytes": m["input_bytes"],
            "exact_dup_share": m["exact_dup_share"], "near_dup_share": m["near_dup_share"],
            "neighbour_share": m["neighbour_share"],
            "curation_docs_per_s": m["rows"]["documents"] / stats.median(lat) if lat else 0.0,
        }

    def layer_metrics(self, ctx) -> dict:
        spans = ctx.tracer.spans

        def total(name):
            return sum((s.counts or {}).get("rows", 0) for s in spans if s.name == name)

        cand = total("llm.dedup.minhash_lsh_pairs")
        ver = total("llm.dedup.verified_near_dup_pairs")
        return {"llm.dedup.lsh_precision": ver / cand if cand else 0.0}


def _numpy_topk(path: str) -> dict[int, list[tuple[int, float]]]:
    """Per query: [(neighbor_id, cosine)] by descending cosine, then id."""
    ids, vecs = gen.load_embeddings(path)
    v = vecs.astype(np.float64)
    unit = v / np.linalg.norm(v, axis=1, keepdims=True)
    out = {}
    for qi in np.flatnonzero(ids < N_QUERIES):
        sims = unit @ unit[qi]
        sims[qi] = -np.inf
        order = np.lexsort((ids, -sims))[:TOP_K + 1]
        out[int(ids[qi])] = [(int(ids[j]), float(sims[j])) for j in order]
    return out


def _topk_equal(got, want) -> bool:
    """Same neighbours in the same order; a swap is accepted only between
    neighbours whose cosines tie within ``SIM_TOL``."""
    by_q: dict[int, list] = {}
    for q, rnk, nb, sim in sorted(got):
        by_q.setdefault(q, []).append((nb, sim))
    if sorted(by_q) != sorted(want):
        return False
    for q, rows in by_q.items():
        ref = want[q]
        if len(rows) != TOP_K:
            return False
        for r, (nb, sim) in enumerate(rows):
            if abs(sim - ref[r][1]) > SIM_TOL:
                return False
            if nb != ref[r][0] and not any(nb == n and abs(s - sim) <= SIM_TOL for n, s in ref):
                return False
    return True


WORKLOAD = LlmCuration()
