"""Seeded input generator for the lakehouse benchmark.

Everything here is a pure function of ``(seed, sizes)``: the same seed
writes byte-identical files. Two families of inputs:

- clinical raw CSVs shaped like Synthea exports (``patients``,
  ``encounters``, ``organizations``): PII columns, ZIP, birthdate,
  gender, race; encounter reasons drawn from a Zipf-skewed condition
  list, plus planted chronic-condition comorbidity so that co-occurrence
  statistics (chi-square, comorbidity top-k, case/control features) have
  real signal;
- an LLM-curation corpus: JSONL documents with a stated share of planted
  exact duplicates (case/whitespace variants) and near duplicates (one
  word substituted), and JSONL embeddings with a stated share of planted
  nearest neighbours.

Each generator returns a manifest (row counts, bytes, planted shares and
the planted ground truth the correctness checks need); ``write_manifest``
records it next to the files.
"""

from __future__ import annotations

import csv
import hashlib
import io
import json
import os

import numpy as np

# Acute reasons: the Zipf-skewed background of encounter reasons.
ACUTE = [
    "Viral sinusitis (disorder)",
    "Acute viral pharyngitis (disorder)",
    "Acute bronchitis (disorder)",
    "Otitis media",
    "Streptococcal sore throat (disorder)",
    "Sprain of ankle",
    "Normal pregnancy",
    "Fracture of forearm",
    "Laceration of hand",
    "Acute allergic reaction",
    "Concussion with no loss of consciousness",
    "Cystitis",
    "Seasonal allergic rhinitis",
    "Childhood asthma",
    "Anemia (disorder)",
    "Sinusitis (disorder)",
    "Injury of knee",
    "Fracture of rib",
    "Whiplash injury to neck",
    "Burn injury (morphologic abnormality)",
    "Escherichia coli urinary tract infection",
    "Pneumonia",
    "Appendicitis",
    "Dislocation of hip joint",
]

# Chronic conditions with planted comorbidity: each patient draws a
# latent chronic set, and a share of that patient's encounters carry one
# of those reasons — so conditions that co-occur in patients co-occur in
# encounter histories.
CHRONIC = [
    "Diabetes",
    "Hypertension",
    "Chronic kidney disease stage 1 (disorder)",
    "Drug overdose",
    "Chronic pain",
    "Opioid abuse (disorder)",
    "Prediabetes",
    "Coronary Heart Disease",
]

# (condition, base probability, {given condition: conditional probability})
_CHRONIC_MODEL = [
    ("Prediabetes", 0.12, {}),
    ("Diabetes", 0.08, {"Prediabetes": 0.30}),
    ("Hypertension", 0.15, {"Diabetes": 0.60}),
    ("Chronic kidney disease stage 1 (disorder)", 0.03, {"Diabetes": 0.35, "Hypertension": 0.15}),
    ("Coronary Heart Disease", 0.04, {"Hypertension": 0.20}),
    ("Chronic pain", 0.10, {}),
    ("Opioid abuse (disorder)", 0.02, {"Chronic pain": 0.25}),
    ("Drug overdose", 0.03, {"Opioid abuse (disorder)": 0.55, "Chronic pain": 0.08}),
]

PII_COLS = ["SSN", "DRIVERS", "PASSPORT", "PREFIX", "FIRST", "LAST",
            "SUFFIX", "MAIDEN", "BIRTHPLACE", "ADDRESS"]

PATIENT_COLS = ["Id", "BIRTHDATE", "SSN", "DRIVERS", "PASSPORT", "PREFIX",
                "FIRST", "LAST", "SUFFIX", "MAIDEN", "MARITAL", "RACE",
                "ETHNICITY", "GENDER", "BIRTHPLACE", "ADDRESS", "ZIP"]
ENCOUNTER_COLS = ["Id", "START", "STOP", "PATIENT", "PROVIDER",
                  "ENCOUNTERCLASS", "REASONDESCRIPTION", "TOTAL_CLAIM_COST"]
ORGANIZATION_COLS = ["Id", "NAME", "CITY", "STATE", "ZIP"]

# DDL schemas for io.read_csv_dir (explicit, no inference)
SCHEMAS = {
    "patients": (
        "Id long, BIRTHDATE date, SSN string, DRIVERS string, PASSPORT string, "
        "PREFIX string, FIRST string, LAST string, SUFFIX string, MAIDEN string, "
        "MARITAL string, RACE string, ETHNICITY string, GENDER string, "
        "BIRTHPLACE string, ADDRESS string, ZIP int"
    ),
    "encounters": (
        "Id long, START timestamp, STOP timestamp, PATIENT long, PROVIDER int, "
        "ENCOUNTERCLASS string, REASONDESCRIPTION string, TOTAL_CLAIM_COST double"
    ),
    "organizations": "Id int, NAME string, CITY string, STATE string, ZIP int",
}

_RACES = ["white", "black", "asian", "hispanic", "native", "other"]
_RACE_P = [0.60, 0.13, 0.07, 0.15, 0.02, 0.03]
_CLASSES = ["wellness", "ambulatory", "outpatient", "emergency", "inpatient", "urgentcare"]
_CLASS_P = [0.30, 0.30, 0.20, 0.08, 0.05, 0.07]
_STATES = ["MA", "NY", "CA", "TX", "WA", "IL", "FL", "OH"]
_SYLL = ["ka", "lo", "mi", "ra", "te", "son", "ber", "an", "el", "ton",
         "vi", "ne", "dor", "sa", "li", "mar", "go", "ley", "ri", "chen"]

# epoch-day bounds of encounter START (2010-01-01 .. 2020-12-31)
_ENC_DAY0 = 14610
_ENC_DAYS = 4018
# birthdates 1930-01-01 .. 2015-12-31
_BIRTH_DAY0 = -14610
_BIRTH_DAYS = 31410

NULL_TOKEN = "null"

# clinical shape: encounters per patient (mean), organizations
ENCOUNTERS_PER_PATIENT = 20
N_ORGS = 60


def _names(rng: np.random.Generator, n: int, syllables: tuple[int, int]) -> np.ndarray:
    lo, hi = syllables
    k = rng.integers(lo, hi + 1, n)
    parts = rng.integers(0, len(_SYLL), (n, hi))
    return np.array([
        "".join(_SYLL[p] for p in row[:kk]).capitalize()
        for row, kk in zip(parts, k)
    ], dtype=object)


def _days_to_iso(days: np.ndarray) -> np.ndarray:
    return np.datetime_as_string(days.astype("datetime64[D]"), unit="D")


def _secs_to_iso(secs: np.ndarray) -> np.ndarray:
    s = np.datetime_as_string(secs.astype("datetime64[s]"), unit="s")
    return np.char.replace(s.astype(str), "T", " ")


def _write_csv(path: str, header: list[str], columns: list) -> int:
    """CSV with '' for missing values (Spark reads an empty unquoted
    field as null). Returns bytes written."""
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(zip(*columns))
    data = buf.getvalue().encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def _chronic_sets(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    has: dict[str, np.ndarray] = {}
    for cond, base, given in _CHRONIC_MODEL:
        p = np.full(n, base)
        for other, cp in given.items():
            p = np.where(has[other], np.maximum(p, cp), p)
        has[cond] = rng.random(n) < p
    return has


def generate_clinical(out_dir: str, seed: int, n_patients: int) -> dict:
    """Write patients.csv, encounters.csv and organizations.csv under
    ``out_dir`` and return the manifest."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])

    # ---- patients
    pid = np.arange(1, n_patients + 1, dtype=np.int64)
    first = _names(rng, n_patients, (2, 3))
    last = _names(rng, n_patients, (2, 4))
    maiden = np.where(rng.random(n_patients) < 0.3, _names(rng, n_patients, (2, 3)), "")
    suffix = np.where(rng.random(n_patients) < 0.05,
                      rng.choice(["Jr.", "Sr.", "III"], n_patients), "")
    ssn = np.array([f"999-{a:02d}-{b:04d}" for a, b in zip(
        rng.integers(10, 100, n_patients), rng.integers(0, 10000, n_patients))], dtype=object)
    drivers = np.where(rng.random(n_patients) < 0.85,
                       np.char.add("S999", rng.integers(10000, 99999, n_patients).astype(str)), "")
    passport = np.where(rng.random(n_patients) < 0.6,
                        np.char.add("X", rng.integers(10**7, 10**8, n_patients).astype(str)), "")
    gender = rng.choice(["F", "M"], n_patients)
    prefix = np.where(gender == "F", rng.choice(["Ms.", "Mrs."], n_patients), "Mr.")
    race = rng.choice(_RACES, n_patients, p=_RACE_P)
    ethnicity = rng.choice(["nonhispanic", "hispanic"], n_patients, p=[0.85, 0.15])
    marital = np.where(rng.random(n_patients) < 0.7, rng.choice(["M", "S"], n_patients), "")
    birthplace = np.char.add(_names(rng, n_patients, (2, 3)).astype(str), " MA US")
    address = np.array([f"{a} {s} Street" for a, s in zip(
        rng.integers(1, 999, n_patients), _names(rng, n_patients, (2, 3)))], dtype=object)
    zips = rng.integers(1000, 1000 + 400, n_patients)  # 400 distinct ZIPs
    birth = _BIRTH_DAY0 + rng.integers(0, _BIRTH_DAYS, n_patients)
    p_cols = [pid, _days_to_iso(birth), ssn, drivers, passport, prefix, first, last,
              suffix, maiden, marital, race, ethnicity, gender, birthplace, address, zips]
    p_bytes = _write_csv(os.path.join(out_dir, "patients.csv"), PATIENT_COLS, p_cols)

    # ---- organizations (small broadcast dimension)
    org_id = np.arange(1, N_ORGS + 1, dtype=np.int64)
    org_name = np.char.add(_names(rng, N_ORGS, (2, 3)).astype(str), " Health")
    o_cols = [org_id, org_name, _names(rng, N_ORGS, (2, 3)),
              rng.choice(_STATES, N_ORGS), rng.integers(1000, 1400, N_ORGS)]
    o_bytes = _write_csv(os.path.join(out_dir, "organizations.csv"), ORGANIZATION_COLS, o_cols)

    # ---- encounters
    n_enc = n_patients * ENCOUNTERS_PER_PATIENT
    activity = rng.gamma(2.0, 1.0, n_patients)
    enc_patient_idx = rng.choice(n_patients, n_enc, p=activity / activity.sum())
    enc_patient_idx.sort(kind="stable")  # exports list encounters per patient
    has = _chronic_sets(rng, n_patients)
    chronic_mat = np.stack([has[c] for c in CHRONIC], axis=1)  # (patients, chronic)
    n_chronic = chronic_mat.sum(axis=1)

    zipf_w = 1.0 / np.arange(1, len(ACUTE) + 1) ** 1.1
    acute_reason = rng.choice(len(ACUTE), n_enc, p=zipf_w / zipf_w.sum())
    # chronic reason: a uniformly chosen member of the patient's chronic set
    pick = rng.random(n_enc)
    enc_nchron = n_chronic[enc_patient_idx]
    reasons = np.array(ACUTE, dtype=object)[acute_reason]
    use_chronic = (enc_nchron > 0) & (rng.random(n_enc) < 0.45)
    for i in np.nonzero(use_chronic)[0]:
        members = np.flatnonzero(chronic_mat[enc_patient_idx[i]])
        reasons[i] = CHRONIC[members[int(pick[i] * len(members))]]
    no_reason = (~use_chronic) & (rng.random(n_enc) < 0.35)
    reasons[no_reason] = ""

    start_day = _ENC_DAY0 + rng.integers(0, _ENC_DAYS, n_enc)
    start_s = start_day.astype(np.int64) * 86400 + rng.integers(0, 86400, n_enc)
    stop_s = start_s + rng.integers(900, 4 * 3600, n_enc)
    enc_class = rng.choice(_CLASSES, n_enc, p=_CLASS_P)
    cost = np.round(rng.lognormal(5.0, 1.0, n_enc), 2)
    enc_id = np.arange(1, n_enc + 1, dtype=np.int64) + 10_000_000
    e_cols = [enc_id, _secs_to_iso(start_s), _secs_to_iso(stop_s), pid[enc_patient_idx],
              rng.integers(1, N_ORGS + 1, n_enc), enc_class, reasons,
              np.char.mod("%.2f", cost)]
    e_bytes = _write_csv(os.path.join(out_dir, "encounters.csv"), ENCOUNTER_COLS, e_cols)

    reason_counts = {r: int(c) for r, c in zip(*np.unique(reasons[reasons != ""],
                                                          return_counts=True))}
    return {
        "kind": "clinical",
        "seed": seed,
        "rows": {"patients": n_patients, "encounters": n_enc, "organizations": N_ORGS},
        "bytes": {"patients": p_bytes, "encounters": e_bytes, "organizations": o_bytes},
        "input_rows": n_patients + n_enc + N_ORGS,
        "input_bytes": p_bytes + e_bytes + o_bytes,
        "null_reason_share": round(float((reasons == "").mean()), 4),
        "chronic_encounter_share": round(float(use_chronic.mean()), 4),
        "chronic_prevalence": {c: round(float(has[c].mean()), 4) for c in CHRONIC},
        "reason_counts": reason_counts,
        "zip_range": [int(zips.min()), int(zips.max())],
    }


def read_patients_pii(path: str) -> dict[int, dict[str, str]]:
    """The raw PII values per patient id, from the generated CSV (the
    de-identification check hashes these independently)."""
    out: dict[int, dict[str, str]] = {}
    with open(path, newline="") as f:
        for row in csv.DictReader(f):
            out[int(row["Id"])] = {c: row[c] for c in PII_COLS}
    return out


def sha256_token(raw: str) -> str:
    """SHA-256 hex of a raw PII value; '' (a null in the CSV) hashes the
    null token, as the de-identification contract prescribes."""
    return hashlib.sha256((raw if raw != "" else NULL_TOKEN).encode()).hexdigest()


# ------------------------------------------------------------ LLM corpus

_MARKERS = ["the", "and", "of"]

# planted shares: exact and near duplicates of the corpus, embeddings
# with a planted nearest neighbour; embedding width
EXACT_SHARE = 0.05
NEAR_SHARE = 0.05
NEIGHBOUR_SHARE = 0.10
DIM = 32


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        w = "".join(letters[rng.integers(0, 26, int(rng.integers(3, 10)))])
        if w not in words and w not in _MARKERS:
            words.add(w)
            out.append(w)
    return out


def generate_corpus(out_dir: str, seed: int, n_docs: int, n_vectors: int) -> dict:
    """Write documents.jsonl and embeddings.jsonl; return the manifest
    with the planted duplicate groups and neighbour pairs."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 3000)
    zipf_w = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    zipf_w /= zipf_w.sum()

    n_exact = int(round(n_docs * EXACT_SHARE))
    n_near = int(round(n_docs * NEAR_SHARE))
    n_base = n_docs - n_exact - n_near
    base: list[list[str]] = []
    seen: set[str] = set()
    while len(base) < n_base:
        n_words = int(rng.integers(40, 90))
        words = [vocab[i] for i in rng.choice(len(vocab), n_words, p=zipf_w)]
        for pos, m in zip(rng.choice(n_words, 3, replace=False), _MARKERS):
            words[pos] = m
        key = " ".join(words)
        if key not in seen:
            seen.add(key)
            base.append(words)

    sources = rng.choice(n_base, n_exact + n_near, replace=False)
    texts = [" ".join(w) for w in base]
    kinds = ["base"] * n_base
    src_of: list[int] = list(range(n_base))
    for j, s in enumerate(sources):
        words = list(base[s])
        if j < n_exact:
            # same normalized text: case and whitespace variants only
            text = "  ".join(words).upper() if j % 2 else " " + " ".join(words) + " "
            kinds.append("exact")
        else:
            pos = int(rng.integers(0, len(words)))
            repl = words[pos]
            while repl == words[pos] or repl in _MARKERS:
                repl = vocab[int(rng.integers(0, len(vocab)))]
            words[pos] = repl
            text = " ".join(words)
            kinds.append("near")
        texts.append(text)
        src_of.append(int(s))

    # shuffle into doc ids so planted copies are not adjacent
    order = rng.permutation(len(texts))
    doc_id_of = np.empty(len(texts), dtype=np.int64)
    doc_id_of[order] = np.arange(len(texts))
    lines = []
    for pos in order:
        lines.append(json.dumps({"doc_id": int(doc_id_of[pos]), "text": texts[pos]}))
    doc_path = os.path.join(out_dir, "documents.jsonl")
    doc_bytes = _write_lines(doc_path, lines)

    exact_groups = sorted(
        sorted([int(doc_id_of[src_of[i]]), int(doc_id_of[i])])
        for i in range(n_base, len(texts)) if kinds[i] == "exact"
    )
    near_pairs = sorted(
        tuple(sorted([int(doc_id_of[src_of[i]]), int(doc_id_of[i])]))
        for i in range(n_base, len(texts)) if kinds[i] == "near"
    )

    # ---- embeddings with planted neighbours
    vrng = np.random.default_rng([seed, 3])
    vecs = vrng.standard_normal((n_vectors, DIM)).astype(np.float32)
    n_planted = int(round(n_vectors * NEIGHBOUR_SHARE))
    src = vrng.choice(n_vectors, n_planted, replace=False)
    dst = vrng.choice(np.setdiff1d(np.arange(n_vectors), src), n_planted, replace=False)
    vecs[dst] = vecs[src] + (0.05 * vrng.standard_normal((n_planted, DIM))).astype(np.float32)
    emb_lines = [
        json.dumps({"vec_id": i, "embedding": [float(format(float(x), ".9g")) for x in v]})
        for i, v in enumerate(vecs)
    ]
    emb_bytes = _write_lines(os.path.join(out_dir, "embeddings.jsonl"), emb_lines)

    return {
        "kind": "corpus",
        "seed": seed,
        "rows": {"documents": len(texts), "embeddings": n_vectors},
        "bytes": {"documents": doc_bytes, "embeddings": emb_bytes},
        "input_rows": len(texts),
        "input_bytes": doc_bytes,
        "exact_dup_share": round(n_exact / len(texts), 4),
        "near_dup_share": round(n_near / len(texts), 4),
        "neighbour_share": round(n_planted / n_vectors, 4),
        "embedding_dim": DIM,
        "exact_groups": exact_groups,
        "near_pairs": [list(p) for p in near_pairs],
        "neighbour_pairs": [[int(a), int(b)] for a, b in zip(src, dst)],
    }


def _write_lines(path: str, lines: list[str]) -> int:
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def load_embeddings(path: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, float32 matrix) from embeddings.jsonl — the NumPy side of
    the cosine top-k check."""
    ids, rows = [], []
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            ids.append(rec["vec_id"])
            rows.append(rec["embedding"])
    return np.array(ids, dtype=np.int64), np.array(rows, dtype=np.float32)


def load_texts(path: str) -> dict[int, str]:
    with open(path) as f:
        return {rec["doc_id"]: rec["text"] for rec in map(json.loads, f)}


def normalized(text: str) -> str:
    """Whitespace-collapsed lowercase text — the exact-duplicate key."""
    return " ".join(text.lower().split())


def write_manifest(out_dir: str, manifest: dict) -> str:
    path = os.path.join(out_dir, "manifest.json")
    with open(path, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return path
