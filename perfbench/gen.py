"""Seeded input generator for the benchmark.

One seed gives one set of parquet inputs, byte-for-byte the same on every
call. The engine sees only the directories written here:

  <out>/corpus/{documents,embeddings,events}.parquet
      the workload corpus: a topic-mixture document set with a planted
      share of exact and near duplicates;
  <out>/heldout/{documents,embeddings,events}.parquet
      held-out documents for topic_model's predict calls, drawn from the
      same topics with a share of out-of-vocabulary tokens.

Usage: python3 perfbench/gen.py --seed N --docs N --topics N [--dup-share F]
       [--heldout-docs N] [--oov-share F] --out DIR
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Function words the engine's quality gate counts as stop words and its
# language gate as markers: about one token in six is one of them.
MARKERS = ["the", "a", "and", "of", "is"]
FUNCTION_SHARE = 0.16
LANGS = ["en", "de", "fr", "es", "zh"]
N_SOURCES = 20
EMBED_DIM = 32


def _words(rng, n, syllables):
    """n distinct lowercase pseudo-words of `syllables` CV syllables."""
    cons, vows = list("bcdfghklmnprstvz"), list("aeiou")
    out = set()
    while len(out) < n:
        out.add("".join(rng.choice(cons) + rng.choice(vows)
                        for _ in range(syllables)))
    return sorted(out)


def corpus_params(docs, topics, dup_share=0.1, heldout_docs=0,
                  oov_share=0.2):
    return {"docs": docs, "topics": topics, "dup_share": dup_share,
            "heldout_docs": heldout_docs, "oov_share": oov_share}


def _doc_texts(rng, n, topic_words, common, oov_words, oov_share):
    """n documents, each dominated by one topic."""
    k = len(topic_words)
    texts = []
    for _ in range(n):
        t = int(rng.integers(k))
        length = int(rng.integers(25, 70))
        toks = []
        for _ in range(length):
            u = rng.random()
            if u < FUNCTION_SHARE:
                toks.append(MARKERS[int(rng.integers(len(MARKERS)))])
            elif oov_words is not None and u < FUNCTION_SHARE + oov_share:
                toks.append(oov_words[int(rng.integers(len(oov_words)))])
            elif u < 0.85:
                ws = topic_words[t]
                # Zipf-like: low ranks of the topic dominate
                toks.append(ws[min(int(rng.zipf(1.3)) - 1, len(ws) - 1)])
            elif u < 0.93:
                toks.append(common[int(rng.integers(len(common)))])
            else:
                o = int(rng.integers(k))
                toks.append(topic_words[o][int(rng.integers(len(topic_words[o])))])
        texts.append(" ".join(toks))
    return texts


def _plant_duplicates(rng, texts, share):
    """Overwrite `share` of the docs with copies of earlier docs: half
    exact, half with two tokens swapped for other corpus tokens."""
    n = len(texts)
    n_dup = int(round(n * share))
    targets = rng.choice(np.arange(n // 4, n), size=n_dup, replace=False)
    for i, tgt in enumerate(sorted(int(x) for x in targets)):
        src = int(rng.integers(0, tgt))
        toks = texts[src].split(" ")
        if i % 2 == 1:
            for _ in range(2):
                j = int(rng.integers(len(toks)))
                donor = texts[int(rng.integers(n))].split(" ")
                toks[j] = donor[int(rng.integers(len(donor)))]
        texts[tgt] = " ".join(toks)
    return n_dup


def _documents(rng, texts, first_id):
    n = len(texts)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[int(x)] for x in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{int(x)}" for x in rng.integers(0, N_SOURCES, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n):
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, EMBED_DIM)).astype(np.float32)
    vecs = centers[labels] + 0.3 * rng.normal(size=(n, EMBED_DIM)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _events(rng, n):
    base = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.integers(1, 60_000_000, n).cumsum()
    kinds = ["click", "view", "purchase", "signup", "error"]
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(base + gaps.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 2000, n).astype(np.int64)),
        "event_type": pa.array([kinds[int(x)] for x in rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.uniform(0, 200, n), 2)),
        "props": pa.array([json.dumps({"k": int(x)}) for x in rng.integers(0, 100, n)]),
    })


def _write_dir(d, docs_table, rng, n_side):
    os.makedirs(d, exist_ok=True)
    pq.write_table(docs_table, f"{d}/documents.parquet")
    pq.write_table(_embeddings(rng, n_side), f"{d}/embeddings.parquet")
    pq.write_table(_events(rng, 4 * n_side), f"{d}/events.parquet")


def generate(seed, out, params):
    """Write the inputs for `seed` under `out`; return their description."""
    rng = np.random.default_rng(seed)
    k = params["topics"]
    vocab = _words(rng, k * 60 + 80, 3)
    topic_words = [vocab[i * 60:(i + 1) * 60] for i in range(k)]
    common = vocab[k * 60:]
    texts = _doc_texts(rng, params["docs"], topic_words, common, None, 0.0)
    n_dup = _plant_duplicates(rng, texts, params["dup_share"])
    _write_dir(f"{out}/corpus", _documents(rng, texts, 0), rng, 500)
    info = {"seed": seed, **params, "planted_duplicates": n_dup}
    if params["heldout_docs"]:
        # 4-syllable words never occur in the 3-syllable training vocabulary
        oov = _words(rng, 200, 4)
        held = _doc_texts(rng, params["heldout_docs"], topic_words, common,
                          oov, params["oov_share"])
        _write_dir(f"{out}/heldout",
                   _documents(rng, held, 10_000_000), rng, 100)
    return info


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--docs", type=int, default=5000)
    ap.add_argument("--topics", type=int, default=12)
    ap.add_argument("--dup-share", type=float, default=0.1)
    ap.add_argument("--heldout-docs", type=int, default=0)
    ap.add_argument("--oov-share", type=float, default=0.2)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.seed, a.out, corpus_params(
        a.docs, a.topics, a.dup_share, a.heldout_docs, a.oov_share))))


if __name__ == "__main__":
    main()
