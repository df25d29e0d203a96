import hashlib
import os

from lakebench import gen


def _digests(d):
    return {n: hashlib.sha256(open(os.path.join(d, n), "rb").read()).hexdigest()
            for n in sorted(os.listdir(d))}


def test_clinical_same_seed_is_byte_identical(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    ma = gen.generate_clinical(a, 11, 200)
    mb = gen.generate_clinical(b, 11, 200)
    gen.generate_clinical(c, 12, 200)
    assert _digests(a) == _digests(b)
    assert ma == mb
    assert _digests(a) != _digests(c)
    assert ma["rows"] == {"patients": 200, "encounters": 4000, "organizations": 60}
    assert ma["input_bytes"] == sum(os.path.getsize(os.path.join(a, n)) for n in os.listdir(a))


def test_corpus_same_seed_is_byte_identical_and_plants_duplicates(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    ma = gen.generate_corpus(a, 5, 400, n_vectors=100)
    mb = gen.generate_corpus(b, 5, 400, n_vectors=100)
    assert _digests(a) == _digests(b)
    assert ma == mb
    assert ma["exact_dup_share"] == 0.05 and ma["near_dup_share"] == 0.05
    assert len(ma["exact_groups"]) == 20 and len(ma["near_pairs"]) == 20

    texts = gen.load_texts(os.path.join(a, "documents.jsonl"))
    assert sorted(texts) == list(range(400))
    for x, y in ma["exact_groups"]:
        assert texts[x] != texts[y] and gen.normalized(texts[x]) == gen.normalized(texts[y])
    for x, y in ma["near_pairs"]:
        wx, wy = texts[x].split(), texts[y].split()
        assert len(wx) == len(wy) and sum(p != q for p, q in zip(wx, wy)) == 1
    # planted texts aside, every normalized text is distinct
    planted = {y for _, y in ma["exact_groups"]} | {x for x, _ in ma["exact_groups"]}
    rest = [gen.normalized(t) for i, t in texts.items() if i not in planted]
    assert len(set(rest)) == len(rest)


def test_embeddings_plant_nearest_neighbours(tmp_path):
    m = gen.generate_corpus(str(tmp_path), 3, 100, n_vectors=300)
    ids, vecs = gen.load_embeddings(str(tmp_path / "embeddings.jsonl"))
    unit = vecs / ((vecs ** 2).sum(axis=1, keepdims=True) ** 0.5)
    sims = unit @ unit.T
    for i in range(len(ids)):
        sims[i, i] = -2.0
    for src, dst in m["neighbour_pairs"]:
        assert sims[src].argmax() == dst
