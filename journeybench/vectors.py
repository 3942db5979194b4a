"""Seeded input tables of the knn_batch workload, in the schema of the
fixture tables the declared vector queries read:

    documents(doc_id int64, text string, lang string, source string, n_chars int64)
    embeddings(vec_id int64, embedding list<float32> (64), label int32)

Vectors are drawn around 16 seeded cluster centres, so the ANN indexes see
clustered data as they would on real embeddings. Texts are about 300
characters of Zipf-distributed words, the size of an sf0.1 `documents` row.
The same seed gives the same tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = 500
DIM = 64
CLUSTERS = 16
SYLLABLES = "ka lo mi ne ru sa ti vo ze po da fi gu he ja ko le ma nu or pi qu ra se tu ul ve wi xa yo".split()
VOCAB = sorted({a + b for a in SYLLABLES for b in SYLLABLES})
ZIPF = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.9
ZIPF /= ZIPF.sum()


def write(out_dir, seed, rows=ROWS):
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(CLUSTERS, DIM))
    label = rng.integers(0, CLUSTERS, rows)
    emb = (centres[label] + 0.6 * rng.normal(size=(rows, DIM))).astype(np.float32)
    texts = [" ".join(rng.choice(VOCAB, size=int(n), p=ZIPF)) for n in rng.integers(50, 70, rows)]
    ids = pa.array(np.arange(rows, dtype=np.int64))
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "es", "de", "fr"], rows)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 8, rows)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(pa.table({
        "vec_id": ids,
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }), os.path.join(out_dir, "embeddings.parquet"))
    return rows
