"""The corpus_curation inputs and their check.

`write` generates a seeded corpus of documents and embeddings and plants
copies of a seeded sample in it: exact copies (ids from EXACT_BASE) and
near-copies (ids from NEAR_BASE) with about one word in EDIT_EVERY
replaced, or with small noise on the vector. `check` verifies what the JVM
collected from the curation calls against the planted pairs.

The originals have the shape of the repository's test tables `documents`
and `embeddings`: 10 to 100 words over a 31-word vocabulary, five
languages, twenty sources, 64-dimension unit vectors in ten labels. The
reference pipeline has no corpus, so the shares, the edit rate, the noise
and the two similarity thresholds below are the benchmark's own choices;
the reasons are given beside each.
"""
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
DIM = 64
# Originals: the row count of the repository's test `documents` table.
N_DOCS = 500
N_DOCS_TINY = 100
# 50 exact and 50 near copies on 500 originals: enough planted pairs that
# every check sees many, few enough that the copies do not dominate a pass.
EXACT_SHARE = 0.1
NEAR_SHARE = 0.1
EXACT_BASE = 100_000
NEAR_BASE = 200_000
# One edited word in 25 puts a near copy's char 5-gram Jaccard with its
# original between about 0.75 and 0.99, median 0.9: most near copies are
# above the char-gram threshold, about half above the pipeline's 0.9.
EDIT_EVERY = 25
# Noise of +-0.01 per coordinate keeps a near copy's cosine above 0.99.
NOISE = 0.01
# Operator parameters; the JVM side reads them from planted.json. The
# substring length is that of SparkEntry's exactSubstrSpans query; the
# char-gram (0.8) and cosine (0.95) thresholds are above SparkEntry's 0.6
# and 0.3, so that the pairs found are the planted ones and few chance pairs.
SUBSTR_LEN = 40
GRAM_LEN = 5
GRAM_THRESHOLD = 0.8
COS_THRESHOLD = 0.95


def originals(n_docs: int, seed: int):
    """`documents` and `embeddings` rows of the seeded corpus."""
    rng = np.random.default_rng(seed)
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100))) for _ in range(n_docs)]
    langs = rng.choice(LANGS, n_docs)
    sources = rng.integers(0, 20, n_docs)
    docs = [{"doc_id": i, "text": t, "lang": str(l), "source": f"src{s}",
             "n_chars": len(t)} for i, (t, l, s) in enumerate(zip(texts, langs, sources))]
    vecs = rng.normal(size=(n_docs, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_docs)
    emb = [{"vec_id": i, "embedding": v.astype(np.float32).tolist(), "label": int(l)}
           for i, (v, l) in enumerate(zip(vecs, labels))]
    return docs, emb


def _edit(text: str, rng) -> str:
    words = text.split(" ")
    for _ in range(max(1, len(words) // EDIT_EVERY)):
        words[rng.integers(len(words))] = words[rng.integers(len(words))] + "x"
    return " ".join(words)


DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
EMB_SCHEMA = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])


def write(data_dir: str, seed: int, tiny: bool) -> None:
    """Write the corpus with its planted copies, and planted.json."""
    docs, emb = originals(N_DOCS_TINY if tiny else N_DOCS, seed)
    rng = np.random.default_rng(seed + 1)
    order = rng.permutation(len(docs))
    n_exact = round(EXACT_SHARE * len(docs))
    n_near = round(NEAR_SHARE * len(docs))
    exact = {EXACT_BASE + k: int(docs[i]["doc_id"]) for k, i in enumerate(order[:n_exact])}
    near = {NEAR_BASE + k: int(docs[i]["doc_id"])
            for k, i in enumerate(order[n_exact:n_exact + n_near])}
    by_id = {d["doc_id"]: d for d in docs}
    vec_by_id = {e["vec_id"]: e for e in emb}
    for copy, orig in list(exact.items()) + list(near.items()):
        d = dict(by_id[orig], doc_id=copy)
        e = dict(vec_by_id[orig], vec_id=copy)
        if copy >= NEAR_BASE:
            d["text"] = _edit(d["text"], rng)
            v = np.array(e["embedding"]) + rng.uniform(-NOISE, NOISE, len(e["embedding"]))
            e["embedding"] = list(v / np.linalg.norm(v))
        d["n_chars"] = len(d["text"])
        docs.append(d)
        emb.append(e)
    pq.write_table(pa.Table.from_pylist(docs, DOC_SCHEMA), f"{data_dir}/corpus_documents.parquet")
    pq.write_table(pa.Table.from_pylist(emb, EMB_SCHEMA), f"{data_dir}/corpus_embeddings.parquet")
    with open(f"{data_dir}/planted.json", "w") as fh:
        json.dump({"exact": exact, "near": near, "docs": len(docs),
                   "archive_below": EXACT_BASE, "substr_len": SUBSTR_LEN,
                   "gram_len": GRAM_LEN, "gram_threshold": GRAM_THRESHOLD,
                   "cos_threshold": COS_THRESHOLD}, fh)


def _grams(s: str) -> set:
    if len(s) <= GRAM_LEN:
        return {s}
    return {s[i:i + GRAM_LEN] for i in range(len(s) - GRAM_LEN + 1)}


def _jaccard(a: str, b: str) -> float:
    ga, gb = _grams(a), _grams(b)
    return len(ga & gb) / len(ga | gb)


def _cosine(a, b) -> float:
    a, b = np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def check(data_dir: str, out: dict, corrupt: bool) -> list:
    """Every planted exact copy must be flagged by archiveScreen, have
    duplicated substrings and be dropped by the pipeline; every planted
    pair at or above an operator's threshold must be among its pairs; the
    kept set must be the same in every pass.
    """
    with open(f"{data_dir}/planted.json") as fh:
        planted = json.load(fh)
    exact = {int(k): v for k, v in planted["exact"].items()}
    near = {int(k): v for k, v in planted["near"].items()}
    texts = {d["doc_id"]: d["text"] for d in
             pq.read_table(f"{data_dir}/corpus_documents.parquet").to_pylist()}
    vecs = {e["vec_id"]: e["embedding"] for e in
            pq.read_table(f"{data_dir}/corpus_embeddings.parquet").to_pylist()}
    flagged = {a[0] for a in out["archive"] if a[1]}
    if corrupt:
        flagged.discard(min(exact))
    failures = [f"archiveScreen missed exact copy {c}" for c in sorted(exact)
                if c not in flagged]
    with_spans = set(out["span_docs"])
    failures += [f"exactSubstrSpans missed copy pair ({o}, {c})"
                 for c, o in sorted(exact.items())
                 if len(texts[c]) >= SUBSTR_LEN and not {c, o} <= with_spans]
    kept = set(out["kept_ids"])
    failures += [f"pipeline kept exact copy {c}" for c in sorted(exact) if c in kept]
    char_pairs = {tuple(p) for p in out["char_pairs"]}
    vec_pairs = {tuple(p) for p in out["vec_pairs"]}
    for c, o in sorted({**exact, **near}.items()):
        pair = (min(o, c), max(o, c))
        if round(_jaccard(texts[o], texts[c]), 6) >= GRAM_THRESHOLD and pair not in char_pairs:
            failures.append(f"charGramJaccardPairs missed planted pair {pair}")
        if round(_cosine(vecs[o], vecs[c]), 6) >= COS_THRESHOLD and pair not in vec_pairs:
            failures.append(f"cosineNearDup missed planted pair {pair}")
    if len(set(out["kept_digests"])) != 1:
        failures.append(f"kept set differs across passes: {out['kept_digests']}")
    return failures


def archive_yield(out: dict) -> float:
    """archiveScreen's is_dup rows over the sum of its n_candidates."""
    cands = sum(a[2] for a in out["archive"])
    return sum(1 for a in out["archive"] if a[3]) / cands if cands else 0.0
