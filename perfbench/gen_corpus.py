#!/usr/bin/env python3
"""Seeded document corpus in the shape of the synthetic `documents.parquet`.

Writes `<outDir>/documents.parquet` with the columns the corpus queries
read: doc_id BIGINT, text, lang, source, n_chars BIGINT.

The shape follows the synthetic sf0.1 test table:
  - text: 10..99 single-space separated tokens;
  - 5% near-duplicates: an earlier document's text with " dup"
    appended (a handful of those collide exactly, as in the real table);
  - source = "src<doc_id % 20>", lang ~ 40% en, the rest de/es/fr/zh.

Two vocabularies:
  - dense: the real table's 30 words, drawn uniformly. Random documents
    share most shingles, so SimHash pair generation is output-quadratic.
  - sparse: 4,000 seeded pseudo-words plus one stopword in ten (the Gopher
    gate needs two). Unrelated documents rarely pair; the pairs grow from
    the planted duplicates and the mutants.

Every doc_id is below 1,000,000: the corpus queries add that offset to
build their mutant copies.

Usage: python3 perfbench/gen_corpus.py <outDir> <seed> [docs=2000]
                                       [dense|sparse]
"""
import json
import random
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "en", "en", "en", "en", "en", "en", "en",
         "de", "de", "de", "es", "es", "es", "fr", "fr", "fr",
         "zh", "zh", "zh"]
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that"]
DUP_EVERY = 20  # one document in 20 is a near-duplicate
MUTANT_OFFSET = 1_000_000


def sparse_vocab(rng, size=4000):
    """Seeded pseudo-words of 3..9 letters, drawn uniformly: unrelated
    documents then share few tokens and their SimHashes spread."""
    words, seen = [], set(VOCAB)
    while len(words) < size:
        w = "".join(rng.choice("etaoinshrdlucmfwypvbgk")
                    for _ in range(rng.randint(3, 9)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def documents(seed, n_docs, vocab="dense"):
    if n_docs >= MUTANT_OFFSET:
        raise ValueError("doc ids must stay below the mutant offset")
    rng = random.Random(f"corpus:{vocab}:{seed}")
    if vocab == "dense":
        draw = lambda k: rng.choices(VOCAB, k=k)
    else:
        words = sparse_vocab(rng)
        # one token in ten a stopword, so the Gopher stopword rule passes
        draw = lambda k: [rng.choice(STOPWORDS) if rng.random() < 0.1
                          else rng.choice(words) for _ in range(k)]
    # Lengths and duplicate slots follow the document index, not the
    # seed: every seed gets the same length distribution and duplicate
    # share, so the seed varies the words (and the pairs they make) but
    # not the amount of work.
    texts = []
    for i in range(n_docs):
        if i % DUP_EVERY == DUP_EVERY - 1:
            texts.append(texts[rng.randrange(i)].removesuffix(" dup")
                         + " dup")
        else:
            texts.append(" ".join(draw(10 + (i * 37) % 90)))
    langs = [rng.choice(LANGS) for _ in range(n_docs)]
    return texts, langs


def write(out_dir, seed, n_docs, vocab="dense"):
    texts, langs = documents(seed, n_docs, vocab)
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    ids = list(range(n_docs))
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, out / "documents.parquet")
    manifest = {"seed": seed, "documents": n_docs, "vocab": vocab,
                "dup_docs": sum(t.endswith(" dup") for t in texts),
                "input_bytes": (out / "documents.parquet").stat().st_size}
    (out / "manifest.json").write_text(json.dumps(manifest, indent=1))
    return manifest


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4, 5):
        sys.exit(__doc__)
    print(json.dumps(write(sys.argv[1], int(sys.argv[2]),
                           int(sys.argv[3]) if len(sys.argv) > 3 else 2000,
                           sys.argv[4] if len(sys.argv) > 4 else "dense")))
