#!/usr/bin/env python3
"""Deterministic input tables for the benchmark.

Writes the tables the benchmarked queries and the alarm app read
(`region`, `events`, `documents`, `embeddings`) as parquet, with the
schemas `graft.GraftSession.table` expects. Sizes follow the scale
factor the way the repository's test data does: sf0.1 has 100,000
events over 1,500 users, 5,000 documents and 2,000 embeddings.

The tables depend only on (sf, base seed); a workload's `--seed` never
changes them. It permutes query order or stream interleaving instead,
so runs with different seeds measure the same work.

    python3 perfbench/gendata.py OUT_DIR SF
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
VOCAB = ("a the data table query join scan sort hash group agg filter key value "
         "row column batch stream window merge part line order customer spark "
         "vector small big fast slow").split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def sizes(sf):
    return {
        "events": int(round(1_000_000 * sf)),
        "users": max(150, int(round(15_000 * sf))),
        "documents": max(500, int(round(50_000 * sf))),
        "embeddings": max(500, int(round(20_000 * sf))),
    }


def region():
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(REGIONS)})


def events(rng, n, users):
    # ts increases with event_id over 30 days, like a replayed log.
    span_us = 30 * 86_400 * 1_000_000
    start_us = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
    step = span_us // n
    ts = start_us + np.arange(n, dtype=np.int64) * step + rng.integers(0, step, n)
    value = np.round(rng.exponential(50.0, n), 2)
    props = ['{"k": %d}' % k for k in rng.integers(0, 100, n)]
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array(props),
    })


def documents(rng, n):
    # 5% of documents are a copy of an earlier one with " dup" appended,
    # so the near-duplicate queries have clusters to find.
    texts, vocab = [], np.array(VOCAB)
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 90)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
        "source": pa.array(["src%d" % s for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n)
    v = 0.6 * centers[label] + rng.normal(0, 1, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def generate(out, sf):
    os.makedirs(out, exist_ok=True)
    n = sizes(sf)
    # One independent stream per table, so resizing one table never
    # shifts another's values.
    seeds = np.random.SeedSequence([BASE_SEED, int(sf * 1e6)]).spawn(3)
    tables = {
        "region": region(),
        "events": events(np.random.default_rng(seeds[0]), n["events"], n["users"]),
        "documents": documents(np.random.default_rng(seeds[1]), n["documents"]),
        "embeddings": embeddings(np.random.default_rng(seeds[2]), n["embeddings"]),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, name + ".parquet"))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]))
