"""Document-chain scaling sample: tokenize → split → pack →
materialize at two parallelism levels (N and 4N cores), the same
sandbox substitute for the north rule's two-cluster-size criterion
that bench.py uses for the MP and dedup phases.

Corpus: 20k deterministic letters-only word-soup docs (the BPE chain
only merges [a-z]+ pre-tokens, so a digit-bearing vocabulary like the
dedup scale corpus would tokenize to singles and understate the
chain). Materialized to parquet ONCE; the timed region is the full
chain through a count+sum action over the materialized sequences.
Min-of-reps per level (this VM's run-to-run jitter protocol,
BENCH_BASELINE.md §5); efficiency = (T_N / T_4N) / 4.

    python tools/docchain_bench.py [--docs 20000] [--reps 3]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, ROOT)

DOCS_PATH_TMPL = os.path.join(ROOT, "_data", "docchain_{docs}.parquet")
_LETTERS = "abcdefghij"


def _ensure_docs(n_docs: int) -> str:
    path = DOCS_PATH_TMPL.format(docs=n_docs)
    if os.path.isdir(path):
        return path
    from go_matrixprofile_spark.session import get_spark

    spark = get_spark("docchain-gen", cores=8, shuffle_partitions=16)
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("text", T.StringType(), False),
        ]
    )
    # letters-only vocabulary: digit string -> a-j letters, so every
    # word is an [a-z]+ pre-token the merge chain actually works on
    vocab = [
        "w" + "".join(_LETTERS[int(d)] for d in f"{i:04d}") for i in range(5000)
    ]

    def gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                rng = np.random.default_rng([13, i])
                words = rng.choice(vocab, size=int(rng.integers(60, 220)))
                rows.append((i, " ".join(words)))
            yield pd.DataFrame(rows, columns=["doc_id", "text"])

    spark.range(n_docs).repartition(32).mapInPandas(gen, schema).write.mode(
        "overwrite"
    ).parquet(path)
    spark.stop()
    return path


def _chain_once(spark, docs_path: str, budget: int) -> dict:
    from pyspark.sql import functions as F

    from go_matrixprofile_spark.operators.corpus import (
        materialize_sequences,
        pack_sequences,
        split_documents,
    )
    from go_matrixprofile_spark.operators.text import tokenize_bpe

    docs = spark.read.parquet(docs_path)
    t0 = time.time()
    tk = tokenize_bpe(docs)
    chunks = split_documents(
        tk.select("doc_id", "n_bpe_tokens"), budget=budget
    )
    packed = pack_sequences(
        chunks, budget=budget, n_buckets=64, token_col="n_tokens",
        chunk_col="chunk_idx",
    )
    seqs = materialize_sequences(packed, tk, budget=budget)
    row = seqs.agg(
        F.count(F.lit(1)).alias("n_seqs"),
        F.sum("n_tokens").alias("n_tokens"),
    ).first()
    wall = time.time() - t0
    return {"wall": wall, "n_seqs": row["n_seqs"], "n_tokens": int(row["n_tokens"])}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=20000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--budget", type=int, default=512)
    args = ap.parse_args()

    docs_path = _ensure_docs(args.docs)

    from go_matrixprofile_spark.session import get_spark

    out: dict = {"docs": args.docs, "budget": args.budget, "levels": {}}
    tokens = None
    for cores in (2, 8):
        walls = []
        spark = get_spark(
            f"docchain-{cores}", cores=cores, shuffle_partitions=2 * cores
        )
        for _ in range(args.reps):
            r = _chain_once(spark, docs_path, args.budget)
            walls.append(round(r["wall"], 2))
            tokens = r["n_tokens"]
        spark.stop()
        out["levels"][str(cores)] = {
            "walls": walls,
            "min_wall": min(walls),
            "tokens_per_sec": round(tokens / min(walls), 1),
        }
    t2, t8 = out["levels"]["2"]["min_wall"], out["levels"]["8"]["min_wall"]
    out["speedup_2_to_8"] = round(t2 / t8, 3)
    out["scaling_efficiency"] = round(t2 / t8 / 4.0, 3)
    out["total_tokens"] = tokens
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
