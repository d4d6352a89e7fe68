"""Seeded duplicate-dense document corpus for the `curate` workload.

The base documents follow the shape of the engine's `documents` test table:
10..100 tokens drawn from a 30-word vocabulary (plus a rare `dup` token),
a language label and one of 20 sources. Every base document then gets
about nine variants: exact copies, copies with a few tokens replaced,
dropped or inserted, and word rotations like `tools/gen_docs10x.py`
makes. Variant ids are shuffled so a family's members are scattered over
the id range. The same seed always writes byte-identical parquet.
"""
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["de", "en", "es", "fr", "zh"]
VARIANTS_PER_DOC = 9


def _base_doc(rnd):
    n = rnd.randint(10, 100)
    return [("dup" if rnd.random() < 0.001 else rnd.choice(VOCAB)) for _ in range(n)]


def _variant(rnd, toks):
    kind = rnd.random()
    if kind < 0.2:
        return list(toks)                       # exact copy
    if kind < 0.45:                             # rotation
        k = rnd.randint(1, max(1, len(toks) - 1))
        return toks[k:] + toks[:k]
    out = list(toks)
    edits = max(1, int(len(out) * rnd.uniform(0.02, 0.15)))
    for _ in range(edits):
        op = rnd.random()
        i = rnd.randrange(len(out))
        if op < 0.5:
            out[i] = rnd.choice(VOCAB)          # replace
        elif op < 0.75 and len(out) > 10:
            del out[i]                          # drop
        else:
            out.insert(i, rnd.choice(VOCAB))    # insert
    return out


def make_corpus(seed, base_docs):
    """Rows (doc_id, text, lang, source) of a corpus of about 10x base_docs."""
    rnd = random.Random(seed)
    bases = [_base_doc(rnd) for _ in range(base_docs)]
    texts = list(bases)
    for toks in bases:
        for _ in range(VARIANTS_PER_DOC):
            texts.append(_variant(rnd, toks))
    ids = list(range(len(texts)))
    rnd.shuffle(ids)
    rows = []
    for doc_id, toks in zip(ids, texts):
        rows.append((doc_id, " ".join(toks), rnd.choice(LANGS),
                     f"src{rnd.randrange(20)}"))
    rows.sort()
    return rows


def write_corpus(path, seed, base_docs):
    """Writes `<path>/documents.parquet`; returns the number of documents."""
    rows = make_corpus(seed, base_docs)
    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, str(path / "documents.parquet"), compression="snappy")
    return len(rows)
