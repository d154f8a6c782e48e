"""The operator pipeline, run once in the traced set-up of positional_read.

A seeded corpus with near-duplicate clusters (gen.documents/embeddings) is
written as ``documents.parquet``/``embeddings.parquet``. Then:

- the x90 clean-corpus composition runs through ``queries.QUERIES`` and is
  checked against its DuckDB oracle over the same files (its Spark tasks are
  ``spark.tasks_per_pipeline``);
- its operator stages run again one by one, each materialised on its own,
  over a half sample (x90 keeps a tenth, too few to pair many copies):
  hash sample, MinHash-LSH pairs, connected components, quality filter
  with BPE token counts, then hyperplane-LSH embedding pairs and IVF top-k;
- the kept documents are ``put`` into the store and checked by row count and
  checksum.

Only the traced run does this; its stage times are per-layer metrics.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from perfbench import gen

_FRACTION, _SALT, _TAU, _PROBE_EVERY, _K = 0.5, 7, 0.5, 50, 10


def oracle(sql: str, data: str) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{data}/documents.parquet')")
        return con.execute(sql).df()
    finally:
        con.close()


def run(bench) -> None:
    from pyspark.sql import functions as F

    from nimhdfstore_spark.operators import dedup as D
    from nimhdfstore_spark.operators import sampling as SA
    from nimhdfstore_spark.operators import similarity as S
    from nimhdfstore_spark.operators import text as T
    from nimhdfstore_spark.queries import ORACLE, QUERIES
    from nimhdfstore_spark.queries import pipeline  # noqa: F401 - registers x90

    spark, tr = bench.spark, bench.tracer
    data = os.path.join(bench.work, "corpus")
    os.makedirs(data, exist_ok=True)
    docs_pd = gen.documents(bench.seed, max(100, int(2_000 * bench.scale)))
    emb_pd = gen.embeddings(bench.seed, max(100, int(1_500 * bench.scale)))
    docs_pd.to_parquet(os.path.join(data, "documents.parquet"), index=False)
    emb_pd.to_parquet(os.path.join(data, "embeddings.parquet"), index=False)
    n = len(docs_pd)

    name = "x90_pipeline_clean_corpus"
    got = bench.call("corpus.x90", n,
                     lambda: QUERIES[name](spark, data).toPandas())
    want = oracle(ORACLE[name], data)
    cols = ["lang", "n_docs", "total_bpe_tokens"]
    got, want = (d[cols].astype({"n_docs": "int64", "total_bpe_tokens": "int64"})
                 .sort_values("lang").reset_index(drop=True) for d in (got, want))
    bench.require("x90 vs DuckDB oracle", got.equals(want),
                  f"{got.to_dict('list')} != {want.to_dict('list')}")

    docs = spark.read.parquet(os.path.join(data, "documents.parquet"))
    par = spark.sparkContext.defaultParallelism
    samp = (SA.hash_sample(docs, "doc_id", _FRACTION, salt=_SALT)
            .repartition(par, "text").persist())
    bench.call("sampling.sample", n, samp.count)
    pairs = D.minhash_lsh_pairs(samp, "doc_id", "text", num_hashes=64,
                                bands=16, threshold=0.65).select(
        "id_a", "id_b").persist()
    tr.count("dedup.pairs_out", bench.call("dedup.minhash_lsh_pairs", n,
                                           pairs.count))
    comp = D.connected_components(
        pairs, samp.select("doc_id"), id_col="doc_id").persist()
    bench.call("dedup.connected_components", n, comp.count)
    reps = comp.where(F.col("id") == F.col("comp")).select(
        F.col("id").alias("doc_id"))
    clean = (samp.join(reps, "doc_id")
             .where(T.quality_score("text") >= _TAU)
             .withColumn("bpe_tokens", T.bpe_token_count("text")).persist())
    kept = bench.call("text.quality_bpe", n, clean.count)
    tr.count("corpus.docs_kept", kept)

    emb = spark.read.parquet(os.path.join(data, "embeddings.parquet"))
    epairs = bench.call("dedup.embedding_lsh_pairs", len(emb_pd), lambda: (
        D.embedding_lsh_pairs(emb, "vec_id", "embedding", threshold=0.9)
        .select("id_a", "id_b").toPandas()))
    # every pair LSH reports must really be that close
    v = np.stack(emb_pd["embedding"].to_numpy()).astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    cos = np.einsum("ij,ij->i", v[epairs["id_a"]], v[epairs["id_b"]])
    bench.require("embedding pairs", len(epairs) > 0 and bool(np.all(cos >= 0.9 - 1e-6)),
                  f"{len(epairs)} pairs, min cosine {cos.min() if len(cos) else None}")
    probes = emb.where(F.col("vec_id") % _PROBE_EVERY == 0)
    topk = bench.call("similarity.ivf_topk", len(emb_pd), lambda: (
        S.ivf_topk(emb, probes, k=_K).toPandas()))
    n_probes = int((emb_pd["vec_id"] % _PROBE_EVERY == 0).sum())
    per = topk.groupby("probe_id").size()
    bench.require("ivf top-k", len(per) == n_probes and bool((per <= _K).all()),
                  f"{len(per)} probes answered of {n_probes}")

    t = bench.call("store.put_corpus", kept, lambda: bench.store.put(
        "corpus", clean, order_by=["doc_id"]))
    bench.require("corpus nrows", t.nrows == kept, f"{t.nrows} != {kept}")
    bench.require_same("corpus checksum", t.df(), clean)
    for df in (samp, pairs, comp, clean):
        df.unpersist()
