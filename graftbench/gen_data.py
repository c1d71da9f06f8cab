"""Seeded generator of the corpus tables the corpus_suite workload reads.

The shapes follow the sf0.1 test tables graft's queries were written for:
5000 documents of 10-100 words drawn from a 30-word vocabulary (5% near
duplicates that append the word "dup" to an earlier text, a few exact
copies), 2000 unit-length 64-d embeddings around 10 labelled centroids,
and 100000 events over January 2024. The same seed gives the same files.

    python3 gen_data.py <out_dir> <seed>
"""
import datetime
import math
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en"] * 8 + ["zh", "es", "fr", "de"] * 3 + ["en"]
N_DOCS, N_VECS, N_EVENTS, DIM = 5000, 2000, 100000, 64


def documents(rng):
    texts = []
    for i in range(N_DOCS):
        if i >= 100 and i % 20 == 11:
            texts.append(texts[rng.randrange(i)] + " dup")
        elif i >= 100 and i % 625 == 179:
            texts.append(texts[rng.randrange(i)])
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100))))
    return pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in range(N_DOCS)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def unit(v):
    n = math.sqrt(sum(x * x for x in v)) or 1.0
    return [x / n for x in v]


def embeddings(rng):
    centroids = [unit([rng.gauss(0, 1) for _ in range(DIM)]) for _ in range(10)]
    labels, vecs = [], []
    for _ in range(N_VECS):
        label = rng.randrange(10)
        labels.append(label)
        vecs.append(unit([c + rng.gauss(0, 0.12) for c in centroids[label]]))
    return pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def events(rng):
    start = datetime.datetime(2024, 1, 1)
    span_us = 30 * 86400 * 10**6
    ts = sorted(rng.randrange(span_us) for _ in range(N_EVENTS))
    kinds = ["signup", "purchase", "view", "click", "error"]
    return pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array([start + datetime.timedelta(microseconds=t) for t in ts],
                       pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(1500) for _ in range(N_EVENTS)], pa.int64()),
        "event_type": pa.array([rng.choice(kinds) for _ in range(N_EVENTS)], pa.string()),
        "value": pa.array([round(rng.expovariate(1 / 50.0), 2) for _ in range(N_EVENTS)],
                          pa.float64()),
        "props": pa.array(['{"k": %d}' % rng.randrange(100) for _ in range(N_EVENTS)],
                          pa.string()),
    })


def main(out_dir, seed):
    rng = random.Random(seed)
    for name, make in (("documents", documents), ("embeddings", embeddings),
                       ("events", events)):
        pq.write_table(make(rng), f"{out_dir}/{name}.parquet")


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]))
