#!/usr/bin/env python3
"""Compare generated inputs with graft's test data at the same scale.

    python3 perfbench/compare_inputs.py <test_data_dir> <sf> <seed>

Generates the tables for (sf, seed) in memory and prints, as JSON, the
same summary of both: rows per table; per column the distinct count,
the share of the most common value (key skew) and min/mean/max (numbers)
or mean length (strings); for the documents the words per document, the
vocabulary, the near-duplicate pairs (word 3-shingle Jaccard >= 0.8) and
the connected components they form; for the embeddings the mean norm.
perfbench/BASELINE.json records its output.
"""
import collections
import itertools
import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq

import gen


def columns(table):
    out = {}
    for f in table.schema:
        col = table.column(f.name).to_pylist()
        if isinstance(col[0], list):  # vectors: see summary()
            continue
        top = collections.Counter(map(repr, col)).most_common(1)[0][1] / len(col)
        c = {"distinct": len(set(map(repr, col))), "top_share": round(top, 4)}
        if isinstance(col[0], (int, float)):
            a = np.asarray(col, dtype=float)
            c.update(min=float(a.min()), mean=round(float(a.mean()), 4), max=float(a.max()))
        elif isinstance(col[0], str):
            c["mean_len"] = round(float(np.mean([len(x) for x in col])), 2)
        out[f.name] = c
    return out


def documents(texts):
    words = [t.split() for t in texts]
    shingles = [set(zip(w, w[1:], w[2:])) for w in words]
    parent = list(range(len(texts)))

    def root(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    pairs = 0
    for i, j in itertools.combinations(range(len(texts)), 2):
        union = len(shingles[i] | shingles[j])
        if union and len(shingles[i] & shingles[j]) / union >= 0.8:
            pairs += 1
            parent[root(i)] = root(j)
    size = collections.Counter(root(i) for i in range(len(texts)))
    n = np.array([len(w) for w in words])
    return {"words_min": int(n.min()), "words_mean": round(float(n.mean()), 2),
            "words_max": int(n.max()),
            "vocabulary": len({x for w in words for x in w}),
            "neardup_pairs": pairs, "components": len(size),
            "docs_in_dup_clusters": sum(v for v in size.values() if v > 1)}


def summary(tables):
    out = {"rows": {k: t.num_rows for k, t in tables.items()},
           "columns": {k: columns(t) for k, t in tables.items()
                       if k not in ("region", "nation")}}
    out["documents"] = documents(tables["documents"].column("text").to_pylist())
    emb = np.asarray(tables["embeddings"].column("embedding").to_pylist())
    out["embeddings"] = {"dim": emb.shape[1],
                         "mean_norm": round(float(np.linalg.norm(emb, axis=1).mean()), 4)}
    return out


def main():
    real_dir, sf, seed = sys.argv[1], float(sys.argv[2]), int(sys.argv[3])
    real = {t: pq.read_table(os.path.join(real_dir, t + ".parquet")) for t in gen.TABLES}
    print(json.dumps({"sf": sf, "seed": seed, "testdata": summary(real),
                      "generated": summary(gen.generate(sf, seed))}, indent=1))


if __name__ == "__main__":
    main()
