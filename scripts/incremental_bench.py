"""Incremental-vs-full dedup benchmark: what a DAILY run costs once the
signature table exists, versus re-mining the whole corpus.

Corpus: 100k synthetic docs (~40 words each from a 5k vocab, seeded), 2%
planted near-dup pairs half of which straddle the delta boundary
(doc_id % 7 == 0 = today's batch, ~14.3k docs). The full miner signs and
self-joins all 100k; the incremental run signs only the delta and joins
its band rows against the signature table built by "yesterday's" run.
Bootstrap time (signing the corpus once) is reported separately — it is
the one-time backfill, not the daily cost.

Writes BENCH/incremental_dedup.json and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd

N_DOCS = 100_000
VOCAB = 5_000
WORDS_PER_DOC = 40
DUP_EVERY = 50  # docs i, i+1 share text when i % DUP_EVERY == 0


def build_corpus(path: str) -> str:
    docs_pq = os.path.join(path, "documents.parquet")
    if os.path.exists(docs_pq):
        return path
    os.makedirs(path, exist_ok=True)
    rng = np.random.RandomState(7)
    vocab = np.array([f"w{i:04d}" for i in range(VOCAB)])
    idx = rng.randint(0, VOCAB, size=(N_DOCS, WORDS_PER_DOC))
    texts = [" ".join(vocab[row]) for row in idx]
    for i in range(0, N_DOCS - 1, DUP_EVERY):
        texts[i + 1] = texts[i]  # planted near-dup pair (exact dup)
    pd.DataFrame({"doc_id": np.arange(N_DOCS, dtype=np.int64), "text": texts}) \
        .to_parquet(docs_pq)
    return path


def main() -> int:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    import janet_spark.dedup_incremental as di
    from janet_spark.commit import write_generation
    from janet_spark.queries_text import _band_df, q_minhash_lsh_pairs

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", "8g")
        .appName("incremental-dedup-bench")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    corpus_dir = build_corpus("/tmp/incr_bench_corpus")
    docs = spark.read.parquet(os.path.join(corpus_dir, "documents.parquet"))
    delta = docs.filter(F.col("doc_id") % 7 == 0)
    base = docs.filter(F.col("doc_id") % 7 != 0)
    n_delta, n_base = delta.count(), base.count()

    # full miner over the whole corpus
    t0 = time.time()
    full_pairs = q_minhash_lsh_pairs(spark, corpus_dir).count()
    t_full = time.time() - t0

    # one-time backfill: sign the existing corpus into the table
    sig = "/tmp/incr_bench_sigs"
    shutil.rmtree(sig, ignore_errors=True)
    t0 = time.time()
    write_generation(_band_df(base), sig, "bootstrap")
    t_bootstrap = time.time() - t0

    # the daily run: sign delta only, mine delta-touching pairs, commit gen
    t0 = time.time()
    pairs, _ = di.incremental_dedup_run(spark, sig, delta, base)
    inc_pairs = pairs.count()
    t_incr = time.time() - t0

    result = {
        "metric": "incremental_vs_full_dedup",
        "n_docs": N_DOCS,
        "n_delta": n_delta,
        "n_base": n_base,
        "full_miner_sec": round(t_full, 2),
        "bootstrap_sign_sec": round(t_bootstrap, 2),
        "incremental_run_sec": round(t_incr, 2),
        "speedup_daily": round(t_full / t_incr, 2),
        "full_pairs": full_pairs,
        "incremental_pairs": inc_pairs,
        "cpus": cpus,
    }
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/incremental_dedup.json", "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
