"""Deterministic document/embedding corpus generator with planted
near-duplicates, for dedup tests beyond the driver's sf tables (VERDICT
r3 #7).

The driver's sf tables top out at ~5k documents — enough for correctness,
not for demonstrating that the LSH bucket caps and candidate counts behave
at a corpus 20-40× larger. This generator writes a documents.parquet +
embeddings.parquet pair shaped like the driver's (same columns), seeded and
byte-deterministic, with planted near-duplicate structure so the dedup
operators have real work:

  * ~10% of docs are MUTATED COPIES of an earlier doc (a few word
    substitutions) — MinHash/Jaccard territory;
  * ~5% are EXACT copies — exact/SimHash territory;
  * ~10% of embeddings are a prior vector plus small noise —
    embedding-LSH territory;
  * the rest are independent Zipfian word soup / unit Gaussians.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB_WORDS = 20_000
_DOC_WORDS_MEAN = 120


def _word_list() -> list[str]:
    # pronounceable-ish deterministic vocab: w<index> keeps generation cheap
    # and the word-level operators (shingles, simhash tokens) meaningful
    return [f"w{i:05d}" for i in range(_VOCAB_WORDS)]


def write_doc_corpus(
    out_dir: str, n_docs: int, dim: int = 64, seed: int = 7
) -> dict:
    """Write documents.parquet + embeddings.parquet under ``out_dir``.
    Idempotent: returns early iff both files exist AND the recorded
    parameters match (content is seed-deterministic, so same-parameter
    re-generation would be byte-identical; different parameters regenerate
    rather than silently mislabel)."""
    doc_path = os.path.join(out_dir, "documents.parquet")
    emb_path = os.path.join(out_dir, "embeddings.parquet")
    meta_path = os.path.join(out_dir, "_corpus_meta.json")
    params = {"n_docs": n_docs, "dim": dim, "seed": seed}
    if os.path.exists(doc_path) and os.path.exists(emb_path):
        # cache hit only for the SAME parameters: a dir name collision
        # (e.g. 100500 and 100000 docs both mapping to one label) must not
        # silently publish stats measured on a different corpus
        try:
            with open(meta_path) as f:
                if json.load(f) == params:
                    return {**params, "cached": True}
        except (OSError, ValueError):
            # unreadable OR corrupt/hand-edited meta (json.JSONDecodeError
            # is a ValueError) both fall through to regeneration
            pass
        for p in (doc_path, emb_path):
            os.unlink(p)
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, n_docs])
    words = np.asarray(_word_list(), dtype=object)

    lengths = np.clip(
        rng.normal(_DOC_WORDS_MEAN, 30, size=n_docs).astype(np.int64), 20, 300
    )
    # Zipfian word ids per doc (flat pool, sliced by offsets)
    total = int(lengths.sum())
    flat = (rng.zipf(1.3, size=total) % _VOCAB_WORDS).astype(np.int64)
    offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])

    kind = rng.choice(3, size=n_docs, p=[0.85, 0.10, 0.05])  # fresh/mutated/exact
    kind[0] = 0
    id_arrays: list[np.ndarray] = []
    for i in range(n_docs):
        base = flat[offsets[i] : offsets[i + 1]]
        if kind[i] == 0 or i == 0:
            id_arrays.append(base)
        else:
            src = int(rng.integers(0, i))
            src_ids = id_arrays[src]
            if kind[i] == 2:  # exact copy
                id_arrays.append(src_ids)
            else:  # mutated copy: substitute ~3% of words
                ids = src_ids.copy()
                n_mut = max(1, len(ids) * 3 // 100)
                pos = rng.integers(0, len(ids), n_mut)
                ids[pos] = rng.integers(0, _VOCAB_WORDS, n_mut)
                id_arrays.append(ids)
    texts = [" ".join(words[ids]) for ids in id_arrays]
    n_chars = np.asarray([len(t) for t in texts], dtype=np.int64)
    srcs = rng.choice(
        np.asarray([f"src{i}" for i in range(20)], dtype=object), size=n_docs
    )
    langs = rng.choice(np.asarray(["en", "es", "fr", "de"], dtype=object), size=n_docs)
    doc_tbl = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(langs, type=pa.string()),
            "source": pa.array(srcs, type=pa.string()),
            "n_chars": pa.array(n_chars),
        }
    )
    pq.write_table(doc_tbl, doc_path, compression="zstd")

    vecs = rng.normal(0, 1, size=(n_docs, dim)).astype(np.float32)
    dup = rng.random(n_docs) < 0.10
    dup[0] = False
    for i in np.flatnonzero(dup):
        src = int(rng.integers(0, i))
        vecs[i] = vecs[src] + rng.normal(0, 0.05, dim).astype(np.float32)
    emb_tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.reshape(-1), type=pa.float32()), dim
            ).cast(pa.list_(pa.float32())),
        }
    )
    pq.write_table(emb_tbl, emb_path, compression="zstd")
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(params, f)
    os.rename(tmp, meta_path)
    return {**params, "cached": False}
