"""Measure the input statistics that gen.py's constants come from.

    python3 perfbench/calibrate.py <tables-dir>

``<tables-dir>`` holds the ten testdata tables, one parquet file each: the
engine's own testdata (gen.py's constants are this script's output on its
sf0.1 set) or a directory written by ``gen.write_tables``, to check that the
generated tables match. Prints one JSON object.
"""

from __future__ import annotations

import collections
import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def document_stats(texts: list[str], langs: list[str]) -> dict:
    words = [t.split() for t in texts]
    lens = np.array([len(w) for w in words])
    vocab = collections.Counter(x for w in words for x in w)
    seen = collections.Counter(texts)
    base = set(texts)
    # a near copy is another document's text with " dup" appended
    near = sum(1 for w in words if w[-1:] == ["dup"]
               and " ".join(w[:-1]) in base)
    return {
        "words_min_max": [int(lens.min()), int(lens.max())],
        "vocab": sorted(w for w in vocab if w != "dup"),
        "vocab_max_over_min": round(max(vocab[w] for w in vocab if w != "dup")
                                    / min(vocab[w] for w in vocab
                                          if w != "dup"), 3),
        "lang_shares": {k: round(v / len(langs), 3) for k, v in sorted(
            collections.Counter(langs).items())},
        "near_copy_share": round(near / len(texts), 4),
        "exact_copy_share": round(
            sum(n - 1 for n in seen.values()) / len(texts), 4),
    }


def embedding_stats(vecs: np.ndarray, labels: np.ndarray) -> dict:
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = unit @ unit.T
    np.fill_diagonal(sims, -1.0)
    # centroid norm x sqrt(cluster size) is about 1 when labels carry no
    # direction (the mean of n random unit vectors has norm 1/sqrt(n))
    spread = [np.linalg.norm(unit[labels == k].mean(0))
              * np.sqrt((labels == k).sum()) for k in np.unique(labels)]
    return {
        "dim": int(vecs.shape[1]),
        "labels": int(len(np.unique(labels))),
        "centroid_norm_x_sqrt_n": round(float(np.median(spread)), 3),
        "max_neighbour_cosine": round(float(sims.max()), 3),
    }


def main(path: str) -> dict:
    rows = {t: pq.read_metadata(os.path.join(path, f"{t}.parquet")).num_rows
            for t in TABLES}
    docs = pq.read_table(os.path.join(path, "documents.parquet"),
                         columns=["text", "lang"]).to_pydict()
    emb = pq.read_table(os.path.join(path, "embeddings.parquet"))
    events = pq.read_table(os.path.join(path, "events.parquet"),
                           columns=["user_id", "value"]).to_pydict()
    return {
        "rows": rows,
        "events_users": len(set(events["user_id"])),
        "events_value_mean": round(float(np.mean(events["value"])), 2),
        "documents": document_stats(docs["text"], docs["lang"]),
        "embeddings": embedding_stats(
            np.array(emb.column("embedding").to_pylist(), dtype=np.float64),
            np.array(emb.column("label").to_pylist())),
    }


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print(json.dumps(main(sys.argv[1]), indent=1))
