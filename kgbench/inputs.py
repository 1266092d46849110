"""Seeded inputs: a `documents.parquet` in the shape of the sf tables, and
the same texts as `texts.tsv` for the HTTP load generator.

The generator follows the sf0.1 `documents` table (see README.md for the
comparison): texts are space-separated words of the closed corpus
vocabulary (`vocab.txt`), 10 to 99 words each, in five languages; 5 % of
the docs are another doc's text with the word `dup` appended, and 0.1 %
repeat another doc's text exactly. That is the corpus the `kg_triples` oracle SQL
is derived for. The same seed gives the same table.
"""
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_WEIGHTS = [41, 15, 14, 15, 15]
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.001


def vocab():
    with open(os.path.join(HERE, "vocab.txt"), encoding="utf-8") as f:
        return [w.strip() for w in f if w.strip()]


def texts(n_docs, rnd):
    words = vocab()
    base = [" ".join(rnd.choice(words) for _ in range(rnd.randint(10, 99)))
            for _ in range(n_docs)]
    out = list(base)
    n_near = round(n_docs * NEAR_DUP_SHARE)
    n_exact = round(n_docs * EXACT_DUP_SHARE)
    for k, i in enumerate(rnd.sample(range(n_docs), n_near + n_exact)):
        j = rnd.randrange(n_docs - 1)  # another doc than i
        j += j >= i
        out[i] = base[j] + " dup" if k < n_near else base[j]
    return out


def write_documents(path, n_docs, seed):
    """Write `n_docs` documents to `path/documents.parquet`."""
    rnd = random.Random(seed)
    ts = texts(n_docs, rnd)
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(ts, pa.string()),
        "lang": pa.array(rnd.choices(LANGS, LANG_WEIGHTS, k=n_docs), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in ts], pa.int64()),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "documents.parquet"))
    with open(os.path.join(path, "texts.tsv"), "w", encoding="utf-8") as f:
        f.writelines(f"{i}\t{t}\n" for i, t in enumerate(ts))
