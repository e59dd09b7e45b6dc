"""Connected-components variant shoot-out: min-label+pointer-jump vs
large-star/small-star on a big near-dup candidate graph.

Edge workload: the 20k-doc scale corpus regenerated with a 600-word
vocabulary — the regime BENCH_BASELINE.md §3c records as producing
~600k junk minhash collision pairs with hot LSH buckets, i.e. the
worst realistic shape for component resolution (many edges, a few huge
components). Edges are RAW minhash-LSH candidates (no Jaccard
verification) materialized to parquet ONCE; the timed region is the
CC phase only, min-of-3 per variant, label equality asserted.

    python tools/cc_bench.py [--docs 20000] [--reps 3] [--cores 16]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, ROOT)

EDGES_PATH_TMPL = os.path.join(ROOT, "_data", "cc_edges_{docs}.parquet")


def _ensure_edges(spark, n_docs: int) -> str:
    """Materialize the candidate-pair edge list once (low-vocab corpus →
    raw LSH candidates); the CC benchmark reads it back per rep."""
    import pandas as pd
    from pyspark.sql import types as T

    from go_matrixprofile_spark.operators.dedup import minhash_lsh_pairs

    path = EDGES_PATH_TMPL.format(docs=n_docs)
    if os.path.isdir(path):
        return path
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("text", T.StringType(), False),
        ]
    )
    vocab = [f"w{i:03d}" for i in range(600)]

    def gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                base = i - (i % 10) if i % 10 < 2 else i
                rng = np.random.default_rng([7, base])
                words = list(rng.choice(vocab, size=int(rng.integers(60, 220))))
                if base != i:
                    mrng = np.random.default_rng([11, i])
                    for p in mrng.integers(0, len(words), 5):
                        words[int(p)] = str(mrng.choice(vocab))
                rows.append((i, " ".join(words)))
            yield pd.DataFrame(rows, columns=["doc_id", "text"])

    docs = spark.range(n_docs).repartition(32).mapInPandas(gen, schema)
    minhash_lsh_pairs(docs, 8, 8, 2).select("a_id", "b_id").write.mode(
        "overwrite"
    ).parquet(path)
    return path


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=20000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cores", default="16")
    args = ap.parse_args()

    from go_matrixprofile_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )
    from go_matrixprofile_spark.session import get_spark

    spark = get_spark("cc-bench", cores=args.cores)
    path = _ensure_edges(spark, args.docs)
    edges = spark.read.parquet(path)
    n_edges = edges.count()

    variants = {
        "minlabel_jump": lambda: connected_components(edges, max_iter=40),
        "large_small_star": lambda: connected_components_star(
            edges, max_iter=60
        ),
    }
    walls: dict[str, list[float]] = {k: [] for k in variants}
    sigs: dict[str, tuple] = {}
    for rep in range(args.reps):
        for name, fn in variants.items():
            t0 = time.time()
            comp = fn()
            # the iterative op is eager; the final select is not — count
            # it so the timed region covers the full result
            n_nodes = comp.count()
            walls[name].append(time.time() - t0)
            if rep == 0:
                from pyspark.sql import functions as F

                row = comp.agg(
                    F.count("*").alias("n"),
                    F.countDistinct("component").alias("k"),
                    F.sum(
                        F.xxhash64("node", "component").cast("decimal(38,0)")
                    ).alias("h"),
                ).first()
                sigs[name] = (row["n"], row["k"], str(row["h"]), n_nodes)
    assert sigs["minlabel_jump"] == sigs["large_small_star"], sigs
    out = {
        "edges": n_edges,
        "nodes": sigs["minlabel_jump"][0],
        "components": sigs["minlabel_jump"][1],
        "reps": args.reps,
        "cores": args.cores,
    }
    for name in variants:
        out[name] = {
            "wall_min": round(min(walls[name]), 2),
            "wall_all": [round(x, 2) for x in walls[name]],
        }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()


