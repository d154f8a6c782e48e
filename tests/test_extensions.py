"""Extension-operator semantics that the DuckDB oracle can't check:
LSH recall vs the exact path, IVF recall vs brute force, multimodal stubs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nimhdfstore_spark.operators import dedup as D
from nimhdfstore_spark.operators import multimodal as M
from nimhdfstore_spark.operators import similarity as S
from nimhdfstore_spark.tables import load


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 150)
    exact = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.7).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=64, bands=16, threshold=0.6
        ).collect()
    }
    assert exact, "calibration: exact pairs expected at tau=0.7"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"MinHash-LSH recall {recall:.2f} < 0.8"


def test_simhash_finds_exact_duplicates(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    dup = docs.select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    both = docs.select("doc_id", "text").unionByName(dup)
    pairs = D.simhash_pairs(both, "doc_id", "text", max_hamming=0).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    missing = [
        (i, i + 10_000) for i in range(50) if (i, i + 10_000) not in found
    ]
    assert not missing, f"simhash missed exact duplicates: {missing[:5]}"


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 5)
    bf = S.brute_force_topk(emb, probes, k=10).collect()
    ivf = S.ivf_topk(emb, probes, k=10, num_centroids=64, nprobe=4).collect()
    bf_sets = {}
    for r in bf:
        bf_sets.setdefault(r.probe_id, set()).add(r.neighbor_id)
    ivf_sets = {}
    for r in ivf:
        ivf_sets.setdefault(r.probe_id, set()).add(r.neighbor_id)
    recalls = [
        len(bf_sets[p] & ivf_sets.get(p, set())) / len(bf_sets[p]) for p in bf_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.3, f"IVF mean recall {mean_recall:.2f} too low"


def test_multimodal_stubs_and_plumbing(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").limit(20)
    packed = M.pack_binary(docs, "doc_id", "text")
    assert [f.name for f in packed.schema.fields] == ["doc_id", "payload", "meta"]
    assert packed.schema["payload"].dataType.simpleString() == "binary"
    decoded = M.decode_meta(packed)
    rows = decoded.collect()
    assert len(rows) == 20
    for r in rows:
        assert r.width == r.n_bytes % 64
        assert r.height == (r.n_bytes // 64) % 64
    # resize_images is REAL now (PNG codec); non-PNG payloads are dropped
    # by contract rather than crashing the stage
    assert M.resize_images(packed, 32, 32).count() == 0
    # sample_frames is REAL now (APNG codec): non-APNG payloads are dropped
    # by the same contract, not crashed on
    assert M.sample_frames(packed, 10).count() == 0


def test_embedding_lsh_recall_on_planted_neardups(spark, sf_dir):
    # plant near-duplicates (tiny deterministic perturbation => cosine ~1) and
    # check the bucketed LSH primary recovers them at the near-dup threshold
    emb = load(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)
    noisy = emb.select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform(
            "embedding", lambda v: v + (F.lit(0.001) * F.when(v >= 0, 1).otherwise(-1))
        ).alias("embedding"),
    )
    both = emb.select("vec_id", "embedding").unionByName(noisy)
    pairs = D.embedding_lsh_pairs(
        both, "vec_id", "embedding", threshold=0.98, bands=16
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    hits = sum(1 for i in range(100) if (i, i + 10_000) in found)
    assert hits / 100 >= 0.9, f"LSH recall on planted near-dups: {hits}/100"


def test_connected_components_transitive_and_singletons(spark):
    # chain 1-2, 2-3 must collapse to one cluster rooted at 1 even though
    # (1,3) is not a pair; 4-5 is a second cluster; 6 stays a singleton
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    got = {
        r.id: r.comp for r in D.connected_components(pairs, nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_connected_components_long_chain_converges(spark):
    # a 12-node path graph needs ~diameter rounds; stays under max_iter and
    # still labels every node with the chain head
    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    # force the iterative path: a path graph is its convergence worst case
    got = {
        r.id: r.comp
        for r in D.connected_components(
            pairs, nodes, driver_max_edges=0
        ).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_connected_components_timestamp_ids_and_local_frame_fallback(
    spark, monkeypatch
):
    import datetime as dt

    from pyspark.sql.types import StructField, StructType, TimestampType

    import nimhdfstore_spark.tables as T

    # timestamp node ids: the components come out keyed by the timestamp,
    # labelled with the cluster's min id (as epoch seconds)
    ts = [dt.datetime(2024, 1, 1, 0, 0, i) for i in range(1, 7)]
    nodes = spark.createDataFrame(
        [(t,) for t in ts], StructType([StructField("id", TimestampType())])
    )
    pairs = spark.createDataFrame(
        [(ts[0], ts[1]), (ts[1], ts[2]), (ts[3], ts[4])],
        StructType([StructField("id_a", TimestampType()),
                    StructField("id_b", TimestampType())]),
    )
    epoch = {r.id: r.s for r in nodes.selectExpr(
        "id", "CAST(id AS BIGINT) AS s").collect()}
    got = {r.id: r.comp for r in D.connected_components(pairs, nodes).collect()}
    want_root = [ts[0], ts[0], ts[0], ts[3], ts[3], ts[5]]
    assert got == {t: epoch[w] for t, w in zip(ts, want_root)}

    # a mapping type local_frame refuses falls back to createDataFrame
    def refuse(*a, **k):
        raise ValueError("refused")

    monkeypatch.setattr(T, "local_frame", refuse)
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    got = {r.id: r.comp for r in D.connected_components(pairs, nodes).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_interval_join_semantics(spark):
    from nimhdfstore_spark.operators.interval import interval_join

    # interval spans several buckets; boundary points are inclusive both ends
    iv = spark.createDataFrame(
        [(1, 100, 250), (1, 400, 400), (2, 0, 50)], "k long, s long, e long"
    )
    pts = spark.createDataFrame(
        [(1, 100), (1, 250), (1, 251), (1, 400), (1, 399), (2, 50), (2, 51)],
        "k long, p long",
    )
    got = sorted(
        (r.k, r.p, r.s, r.e)
        for r in interval_join(pts, iv, "p", "s", "e", on=["k"], bucket=7).collect()
    )
    assert got == [
        (1, 100, 100, 250), (1, 250, 100, 250), (1, 400, 400, 400),
        (2, 50, 0, 50),
    ]


def test_interval_join_skew_guard_trips(spark):
    from nimhdfstore_spark.operators.interval import interval_join

    iv = spark.createDataFrame([(0, 10_000_000)], "s long, e long")
    pts = spark.createDataFrame([(5,)], "p long")
    joined = interval_join(pts, iv, "p", "s", "e", bucket=10,
                           max_buckets_per_interval=100)
    with pytest.raises(Exception, match="buckets"):
        joined.collect()


def test_sample_hash_no_overflow_at_large_ids(spark):
    # regression: the hash must stay int64-safe for ids near 2^62 (ANSI mode
    # turns an overflow into a runtime error — exactly what a 100 TB id
    # space would hit)
    from nimhdfstore_spark.operators import sampling as SA

    big = spark.createDataFrame(
        [(2**62 + 12345,), (2**40,), (4_000_000_000,)], "id long"
    )
    rows = big.select(SA.sample_hash("id", salt=7).alias("h")).collect()
    assert all(0 <= r.h < SA.MOD32 for r in rows)


def test_hyperplane_bits_column_and_table_forms_agree(spark, sf_dir):
    # the column-level HOF form and the explode/groupBy hot-path form must
    # produce IDENTICAL bit codes (integer fixed-point sums commute)
    emb = load(spark, sf_dir, "embeddings").where(F.col("vec_id") < 50)
    col_form = {
        r.vec_id: list(r.bits)
        for r in emb.select(
            "vec_id", D.hyperplane_bits(F.col("embedding")).alias("bits")
        ).collect()
    }
    tbl_form = {
        r.id: list(r.bits)
        for r in D.hyperplane_bits_table(emb, "vec_id", "embedding").collect()
    }
    assert col_form == tbl_form


def test_minhash_signature_column_form_agrees_with_pairs_path(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 30)
    col_sig = {
        r.doc_id: list(r.sig)
        for r in docs.select(
            "doc_id",
            D.minhash_signature(D.char_ngrams("text"), 64).alias("sig"),
        ).where(F.size(D.char_ngrams("text")) > 0).collect()
    }
    # recompute via the explode/groupBy shape used in minhash_lsh_pairs
    grams = docs.select(
        F.col("doc_id"), D.char_ngrams("text").alias("grams")
    ).where(F.size("grams") > 0)
    hashed = grams.select("doc_id", F.explode("grams").alias("g")).withColumn(
        "pg", D.poly_hash(F.col("g"))
    )
    aggs = [
        F.min((F.col("pg") * a + b) % D.HASH_MOD).alias(f"s{i}")
        for i, (a, b) in enumerate(D.minhash_coeffs(64))
    ]
    tbl_sig = {
        r.doc_id: [r[f"s{i}"] for i in range(64)]
        for r in hashed.groupBy("doc_id").agg(*aggs).collect()
    }
    assert col_sig == tbl_sig
