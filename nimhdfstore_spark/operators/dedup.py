"""Deduplication operators for training-data pipelines (SURVEY §2.14 QX1/QX2
and the north-star extensions): exact, n-gram Jaccard, MinHash+LSH, SimHash,
and embedding-cosine near-dup.

Scale design:
- Everything is expressed as DataFrame ops (explode → hash-partitioned
  groupBy/join), so Catalyst/AQE handles shuffle planning and skew.
- The LSH family (MinHash bands, SimHash bands, hyperplane embedding-LSH)
  turns the O(n²) pair space into an equi-join on (band, signature) buckets —
  the only join key that scales to 100 TB. Exact verification (Jaccard /
  hamming / cosine) then runs only on bucket candidates.
- All hashing is **engine-independent arithmetic** (polynomial rolling
  hashes over codepoints, affine universal-hash families, Rademacher ±1
  hyperplanes from a multiplicative hash) — pure int64/double expressions a
  DuckDB oracle recomputes exactly, unlike xxhash64 whose seeding is
  JVM-internal. Everything stays in whole-stage codegen (no Python UDFs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nimhdfstore_spark.operators.text import tokens

# Engine-independent hash constants (shared with the SQL oracle builders in
# queries/dedup.py — keep in sync with text.py FP_MUL/FP_MOD).
HASH_MOD = 1_000_000_007
HASH_MUL = 31
MOD32 = 1 << 32


def poly_hash(s: Column) -> Column:
    """Polynomial rolling hash of a string column over its codepoints:
    fold((acc*31 + ascii(c)) % 1e9+7). Same family as text.fingerprint;
    DuckDB twin: list_reduce over the same codes."""
    codes = F.transform(
        F.filter(F.split(s, ""), lambda c: c != ""),
        lambda c: F.ascii(c).cast("long"),
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * HASH_MUL + x) % HASH_MOD,
    )


def poly_hash32(s: Column) -> Column:
    """32-bit variant (mod 2^32) — the SimHash bit source; acc*31+c stays
    under 2^37, safe in int64 on both engines."""
    codes = F.transform(
        F.filter(F.split(s, ""), lambda c: c != ""),
        lambda c: F.ascii(c).cast("long"),
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * HASH_MUL + x) % MOD32,
    )


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Fixed affine universal-hash family h_i(p) = (a_i*p + b_i) mod 1e9+7.
    Deterministic constants (no RNG) so the DuckDB oracle embeds the same
    literals. a_i*p < 2^60 — int64-safe in both engines."""
    return [
        ((2654435761 * (i + 1)) % HASH_MOD, (40503 * (i * i + 1) + 17) % HASH_MOD)
        for i in range(num_hashes)
    ]


def _poly_combine(cols: list[Column]) -> Column:
    """Stepwise fold((acc*31 + v) % 1e9+7) over signature values — the
    band-bucket key (values < 2^30, products < 2^45)."""
    acc: Column = F.lit(0).cast("long")
    for c in cols:
        acc = (acc * HASH_MUL + c) % HASH_MOD
    return acc


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep the min-id representative per exact key group (hash groupBy —
    one shuffle on the content key, map-side combined)."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("group_size"),
    )


# --------------------------------------------------------------------------
# character n-gram shingles + exact Jaccard (oracle-checkable)
# --------------------------------------------------------------------------

def char_ngrams(text: Column | str, n: int = 3) -> Column:
    """Distinct lowercase character n-grams (shingles)."""
    t = F.lower(text if isinstance(text, Column) else F.col(text))
    # a string of length L has L-n+1 n-grams: start offsets 0..L-n
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.length(t) - n, F.lit(0))),
        lambda i: t.substr(i + 1, F.lit(n)),
    )
    return F.when(F.length(t) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard >= τ).

    Plan: explode distinct shingles → self-equi-join on the shingle (the
    candidate generator) → count shared shingles per pair → Jaccard from
    |A∩B| / (|A| + |B| - |A∩B|). At 100 TB you'd LSH-prefilter first
    (``minhash_lsh_pairs``); this exact form doubles as its verifier and as
    the DuckDB oracle target.
    """
    # explicit pre-explode spread: char_ngrams is an interpreted HOF, and
    # a single-split corpus would shingle entirely on one task (8.8 s cold
    # / 1.9 s warm -> 3.9 / 0.9 s at sf0.1). Explicit N survives AQE's
    # coalescing of the tiny pre-explode exchange.
    par = df.sparkSession.sparkContext.defaultParallelism
    base = (
        df.repartition(par, F.col(id_col))
        .select(
            F.col(id_col).alias("id"),
            char_ngrams(text_col, n).alias("grams"),
        )
        .withColumn("n_grams", F.size("grams"))
    )
    exploded = base.select("id", "n_grams", F.explode("grams").alias("gram"))
    a, b = exploded.alias("a"), exploded.alias("b")
    shared = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_grams").alias("na"),
            F.col("b.n_grams").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        shared.withColumn("jaccard", F.round(jac, 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --------------------------------------------------------------------------
# MinHash + LSH banding
# --------------------------------------------------------------------------

def minhash_signature(grams: Column, num_hashes: int = 64) -> Column:
    """num_hashes min-hashes of a shingle set: each shingle is polynomial-
    hashed ONCE, then run through ``num_hashes`` affine maps (engine-
    independent, so a DuckDB oracle recomputes identical signatures).

    Deliberately UNROLLED into num_hashes array_min sub-expressions: the
    alternative (a (num_hashes × 2) coefficient-matrix literal iterated
    with nested ``transform``) halves the generated code but evaluates the
    inner lambda interpreted per (shingle, hash) — measured 4.7× slower at
    sf0.1. Here the per-shingle loop is the hot path, so JIT-compiled
    unrolled code wins (contrast hyperplane_bits, where the unrolled form's
    compile time dominated and the matrix form wins)."""
    pgs = F.transform(grams, poly_hash)

    def affine(a: int, b: int):
        # real closure: PySpark derives the lambda arity from the signature,
        # so default-arg capture (lambda p, a=a) would read as a 2-arg lambda
        return lambda p: (p * a + b) % HASH_MOD

    sigs = [
        F.array_min(F.transform(pgs, affine(a, b)))
        for a, b in minhash_coeffs(num_hashes)
    ]
    return F.array(*sigs)


def minhash_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """``(id, sig, band, bucket)`` rows — the LSH index representation of a
    corpus: each doc appears ``bands`` times, keyed by the polynomial fold
    of its band's signature rows. This IS the thing a 100 TB pipeline
    persists (a signature index is ~num_hashes int64s per doc, not the
    text), and both the self-join (minhash_lsh_pairs) and the incremental
    batch-vs-corpus join (minhash_lsh_incremental) probe it the same way.

    Signature via one Arrow-batched numpy pass, MAP-ONLY (no shuffle): the
    shingle→hash→min pipeline is pure integer arithmetic per document, so a
    vectorized pass computes the whole signature matrix in a few matops —
    the previous explode + 64-MIN-aggregate shape shuffled ``L-n+1`` rows
    per document and spent seconds compiling its 64-aggregate codegen
    (measured at sf0.1: 14 s → 2 s for the x90 pair leg). Every step
    mirrors the engine-independent formulas exactly — lowercase codepoint
    n-grams (``char_ngrams``), stepwise poly fold ``(acc*31+c) % 1e9+7``
    (``poly_hash``), affine maps ``(a·p+b) % 1e9+7`` (``minhash_coeffs``,
    products < 2^60, int64-safe), band key = ``_poly_combine`` fold — so
    SQL oracles built from the array formulation still hash-match."""
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    import numpy as np

    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    r = num_hashes // bands
    coeffs = minhash_coeffs(num_hashes)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)
    B = np.array([b for _, b in coeffs], dtype=np.int64)
    mod, mul = HASH_MOD, HASH_MUL
    nb, ng = bands, n
    id_type = df.schema[id_col].dataType
    schema = StructType(
        [
            StructField("id", id_type),
            StructField("sig", ArrayType(LongType())),
            StructField("band", IntegerType()),
            StructField("bucket", LongType()),
        ]
    )

    def compute(batches):
        import pandas as pd

        band_idx = np.arange(nb, dtype=np.int32)
        for pdf in batches:
            out_id, out_sig, out_bucket = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                t = str(text).lower()
                if len(t) < ng:
                    continue  # char_ngrams yields [] — filtered upstream too
                codes = np.frombuffer(t.encode("utf-32-le"), dtype="<u4").astype(
                    np.int64
                )
                win = np.lib.stride_tricks.sliding_window_view(codes, ng)
                pg = np.zeros(len(win), dtype=np.int64)
                for k in range(ng):  # stepwise fold keeps values < 2^35
                    pg = (pg * mul + win[:, k]) % mod
                sig = ((pg[:, None] * A[None, :] + B[None, :]) % mod).min(axis=0)
                buckets = np.zeros(nb, dtype=np.int64)
                bsig = sig.reshape(nb, r)
                for k in range(r):  # _poly_combine fold per band
                    buckets = (buckets * mul + bsig[:, k]) % mod
                out_id.append(doc_id)
                out_sig.append(sig)
                out_bucket.append(buckets)
            if not out_id:
                continue
            m = len(out_id)
            yield pd.DataFrame(
                {
                    "id": np.repeat(np.asarray(out_id), nb),
                    "sig": [s for s in out_sig for _ in range(nb)],
                    "band": np.tile(band_idx, m),
                    "bucket": np.concatenate(out_bucket),
                }
            )

    return df.select(id_col, text_col).mapInPandas(compute, schema=schema)


def _agree_expr(num_hashes: int):
    """Count of agreeing signature positions, as ONE parsed SQL string.

    Semantically identical to the previous
    ``sum(F.when(sig_a[i] == sig_b[i], 1).otherwise(0) for i ...)`` chain —
    the parsed tree is the same codegen'd IF-sum, so per-row execution is
    unchanged — but built with a single py4j round-trip instead of
    ~3·num_hashes Column calls (measured 1.2 s of driver-side plan
    construction per query at num_hashes=64; x90/x32/x140/x196 all pay it
    at least once per run)."""
    return F.expr(
        " + ".join(
            f"IF(sig_a[{i}] = sig_b[{i}], 1, 0)" for i in range(num_hashes)
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.6,
) -> DataFrame:
    """Near-dup candidate pairs via MinHash banding, filtered by the
    signature-estimated Jaccard.

    shingle → minhash(num_hashes) → band into ``bands`` groups of
    ``num_hashes/bands`` rows → bucket-join on (band, band_signature) →
    estimate Jaccard as the fraction of agreeing minhashes → filter ≥ τ.
    The bucket join is the only pair-producing step, so cost tracks true
    collision density, not n².
    """
    buckets = minhash_buckets(df, id_col, text_col, n, num_hashes, bands)
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = _agree_expr(num_hashes) / F.lit(float(num_hashes))
    return (
        cand.withColumn("est_jaccard", F.round(est, 6))
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_lsh_incremental(
    batch: DataFrame,
    corpus_index: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.6,
    batch_buckets: DataFrame | None = None,
) -> DataFrame:
    """Dedup an incoming batch against an EXISTING corpus signature index —
    the shape a 100 TB crawl-ingest pipeline actually runs: the corpus is
    signed once (``minhash_buckets`` persisted as the index; ~bands rows of
    int64s per doc), and each new batch only signs ITSELF, then equi-joins
    its buckets against the index. Cost per batch tracks batch size +
    collision density, never corpus size; no all-pairs step exists.

    Returns one row per batch doc: ``(id, is_dup, n_dup_candidates,
    best_match_id, best_est)`` — best match = highest estimated Jaccard,
    ties broken by lowest corpus id; docs with no candidate above
    ``threshold`` (including empty docs, which have no signature) come
    back ``is_dup = 0`` with ``best_match_id = -1``.

    ``batch_buckets`` lets a caller that already signed the batch (e.g. a
    streaming ingest loop that also appends the accepted signatures to the
    index) pass the ``minhash_buckets`` frame in, so the batch is signed
    exactly once per micro-batch."""
    bb = (
        batch_buckets
        if batch_buckets is not None
        else minhash_buckets(batch, id_col, text_col, n, num_hashes, bands)
    )
    a, b = bb.alias("a"), corpus_index.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col("a.id").alias("id"),
            F.col("b.id").alias("match_id"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id", "match_id"])
    )
    scored = cand.withColumn(
        "est_jaccard",
        F.round(_agree_expr(num_hashes) / F.lit(float(num_hashes)), 6),
    ).where(F.col("est_jaccard") >= threshold)
    per_doc = scored.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_candidates"),
        F.max(
            F.struct(
                F.col("est_jaccard").alias("e"),
                (-F.col("match_id")).alias("neg_id"),
            )
        ).alias("best"),
    ).select(
        "id",
        "n_dup_candidates",
        (-F.col("best.neg_id")).cast("long").alias("best_match_id"),
        F.col("best.e").alias("best_est"),
    )
    ids = batch.select(F.col(id_col).alias("id"))
    return ids.join(per_doc, "id", "left").select(
        "id",
        F.when(F.col("n_dup_candidates").isNotNull(), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_dup"),
        F.coalesce("n_dup_candidates", F.lit(0)).cast("long").alias("n_dup_candidates"),
        F.coalesce("best_match_id", F.lit(-1)).cast("long").alias("best_match_id"),
        F.coalesce("best_est", F.lit(0.0)).alias("best_est"),
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash_table(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """(id, sh): ``bits``-bit SimHash over tokens — bit b of the fingerprint
    is the sign of Σ_tokens (±1 depending on bit b of the 32-bit polynomial
    token hash). The 32-bit poly hash (vs xxhash64) makes the fingerprint
    engine-independent: a DuckDB oracle recomputes it exactly.

    Shape: explode tokens → one arithmetic hash per token → single
    hash-partitioned groupBy with ``bits`` map-side-combined SUM aggregates →
    recompose the long. One shuffle of (id, bits×long partials); no Python,
    no O(bits) data passes. Token-less documents get fingerprint 0 via the
    left join.
    """
    if bits > 32:
        raise ValueError("simhash bits > 32 unsupported (32-bit token hash)")
    tok = df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("tok"))
    hashed = tok.withColumn("h", poly_hash32(F.col("tok")))
    votes = [
        F.sum(
            F.when(
                F.shiftrightunsigned(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = hashed.groupBy("id").agg(*votes)
    sh = F.lit(0).cast("long")
    for b in range(bits):
        sh = sh + F.when(F.col(f"v{b}") > 0, F.lit(2 ** b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    with_sh = agg.select("id", sh.alias("sh"))
    ids = df.select(F.col(id_col).alias("id"))
    return ids.join(with_sh, "id", "left").select(
        "id", F.coalesce("sh", F.lit(0).cast("long")).alias("sh")
    )


def simhash_bands(sh: Column, bands: int = 4, bits: int = 32) -> Column:
    """Split a simhash into band values for hamming-LSH bucketing."""
    width = bits // bands
    mask = (1 << width) - 1
    return F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(sh, b * width).bitwiseAND(F.lit(mask)).alias("bucket"),
        )
        for b in range(bands)
    ])


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming, found via band
    bucketing. With max_hamming < bands this is EXACT (pigeonhole: a pair
    within distance d must agree on ≥1 of the bands), so a DuckDB all-pairs
    hamming oracle reproduces the result precisely."""
    if max_hamming >= bands:
        raise ValueError("banded search is exact only for max_hamming < bands")
    base = simhash_table(df, id_col, text_col).withColumn(
        "bb", F.explode(simhash_bands(F.col("sh"), bands))
    )
    flat = base.select("id", "sh", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a, b = flat.alias("a"), flat.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64(F.col("a.sh"), F.col("b.sh")).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .where(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------------
# embedding-cosine near-dup
# --------------------------------------------------------------------------

def rademacher_sign(h: int, d: int) -> float:
    """Deterministic ±1 hyperplane entry from a multiplicative hash of
    (plane, dim) — a seedless Rademacher projection matrix both engines can
    re-derive (pure int arithmetic, no RNG state)."""
    x = (h * 2654435761 + d * 97) % MOD32
    x = (x * 2654435761) % MOD32
    return 1.0 if x >= (1 << 31) else -1.0


#: fixed-point scale for hyperplane projections: round(v * 2^20) — integer
#: sums commute EXACTLY, so the projection is order-insensitive on every
#: engine (a float fold is exact only in one evaluation order, forcing slow
#: interpreted fold expressions; integers free the plan shape entirely)
FXP = 1 << 20

# embedding_lsh_pairs hot-bucket handling: max rows the detection aggregate
# may return to the driver before the uniform-split fallback kicks in, and
# the fixed sub-bucket count that fallback uses (tests shrink the cap to
# exercise the fallback; 64k rows ≈ 1.5 MB — driver-trivial).
HOT_DETECT_CAP = 65536
HOT_UNIFORM_S = 16


def quantize_fxp(x):
    """Fixed-point quantization of a float ndarray with Spark ROUND
    semantics — HALF_UP (away from zero), NOT numpy's half-even ``rint``.
    The single definition every Arrow kernel shares: the rounding rule is
    part of the cross-engine contract (oracles recompute ``round(v·2^20)``
    with SQL ROUND), so it must never diverge between kernels."""
    import numpy as np

    # NOT floor(x + 0.5): for doubles just below a .5 boundary (e.g.
    # 0.49999999999999994) the ADDITION rounds x+0.5 up to 1.0 and floor
    # then disagrees with SQL ROUND (which sees frac < 0.5 → 0). The
    # fractional part x - floor(x) is computed exactly for |x| < 2^52, so
    # comparing IT against 0.5 reproduces HALF_UP bit-exactly.
    ax = np.abs(x)
    fl = np.floor(ax)
    mag = np.where(ax - fl >= 0.5, fl + 1.0, fl)
    return (np.where(x < 0, -mag, mag)).astype(np.int64)


def rademacher_signs_matrix(num_planes: int, dims: int):
    """(dims × planes) ±1 int64 matrix of ``rademacher_sign`` — the one
    projection matrix every Arrow kernel and SQL oracle share."""
    import numpy as np

    return np.array(
        [[int(rademacher_sign(h, d)) for h in range(num_planes)] for d in range(dims)],
        dtype=np.int64,
    )


def hyperplane_bits(vec: Column, num_planes: int = 64, dims: int = 64) -> Column:
    """Sign-bit code of ``vec`` against ``num_planes`` Rademacher
    hyperplanes over FIXED-POINT components: bit_h =
    (Σ_d sign(h,d)·round(v_d·2^20) >= 0). Quantizing first makes the sum
    exact integer arithmetic — identical in any engine and in any order —
    at a 1e-6 relative perturbation of the projection, immaterial to an
    LSH sign test. The ±1 planes are one constant-folded literal matrix
    iterated with a ``transform``; see ``hyperplane_bits_table`` for the
    explode/groupBy shape used on the hot path."""
    planes = F.array(*[
        F.array(*[F.lit(int(rademacher_sign(h, d))) for d in range(dims)])
        for h in range(num_planes)
    ])
    fx = F.transform(vec, lambda v: F.round(v.cast("double") * FXP).cast("long"))
    return F.transform(
        planes,
        lambda row: F.when(
            F.aggregate(
                F.zip_with(fx, row, lambda x, s: x * s),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )


def hyperplane_bits_table(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_planes: int = 64,
    dims: int = 64,
) -> DataFrame:
    """(id, bits) via one Arrow-batched numpy matmul per partition: the
    sign-plane projection is dense linear algebra — ``(batch × dims) int64
    @ (dims × planes) ±1`` — exactly the case where a vectorized Pandas
    pass beats any per-row codegen expression. Bit-identical to
    ``hyperplane_bits`` because the fixed-point quantization makes every
    projection an integer sum (order-insensitive, no float fold): the only
    float step is ``round(v·2^20)``, reproduced as half-away-from-zero
    (Spark ROUND semantics; numpy's ``rint`` is half-even and would differ
    on exact .5 products).

    Measured vs the previous explode + 64-aggregate shape at sf0.1: 9.0 s
    cold → 3.6 s (the 64-way agg's generated code dominated compile time),
    0.4 s warm. The explode shape also multiplied the shuffle by ``dims``;
    this pass is narrow (id + 64 ints out) and map-only — no shuffle at
    all, which is the plan a 100 TB corpus needs."""
    import numpy as np

    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    signs = rademacher_signs_matrix(num_planes, dims)
    fxp = FXP
    id_type = df.schema[id_col].dataType
    schema = StructType(
        [StructField("id", id_type), StructField("bits", ArrayType(IntegerType()))]
    )

    def compute(batches):
        import pandas as pd

        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            iv = quantize_fxp(v * fxp)
            bits = (iv @ signs >= 0).astype(np.int32)
            yield pd.DataFrame({"id": pdf[id_col].to_numpy(), "bits": list(bits)})

    return df.select(F.col(id_col).alias(id_col), vec_col).mapInPandas(
        compute, schema=schema
    )


_UPPER_MASKS: dict = {}  # size -> cached strict-upper-triangle bool mask


def _strict_upper_mask(n: int):
    import numpy as np

    m = _UPPER_MASKS.get(n)
    if m is None:
        if len(_UPPER_MASKS) > 8:
            _UPPER_MASKS.clear()
        m = _UPPER_MASKS[n] = np.triu(np.ones((n, n), dtype=bool), 1)
    return m


def _tile_pairs(ids_a, Q_a, ids_b, Q_b, blk: int, pre_tau: float, upper: bool):
    """Enumerate near-threshold cosine pairs between two row blocks in
    (blk × blk) tiles — the shared kernel of the cold (whole-bucket) and hot
    (sub-bucket) paths. ``upper=True`` requires ids_a/Q_a be the same sorted
    block as ids_b/Q_b and emits the strict upper triangle; ``upper=False``
    emits the full cross product of two DISJOINT blocks, canonicalized to
    id_a < id_b. Peak memory is O(blk²) regardless of block sizes; the tile
    sweep visits each unordered pair exactly once (property-pinned)."""
    import numpy as np

    # int64 matmul has no BLAS kernel (numpy falls back to generic loops);
    # when every possible dot term is exactly representable in float64 —
    # max|q|² · dims < 2^53, always true for the FXP=2^20 quantization of
    # unit-ish embeddings — the SAME integer Gram comes out of dgemm
    # bit-identical at ~5× the throughput (measured 1.80 → 0.36 s on a
    # 4096×4096×64 tile; x34's sf10 wall is dominated by exactly these
    # tiles). Guarded per call; out-of-bound inputs keep the int64 path.
    dims = Q_a.shape[1] if Q_a.ndim == 2 and len(Q_a) else 0
    qmax = max(
        int(np.abs(Q_a).max(initial=0)), int(np.abs(Q_b).max(initial=0))
    )
    if dims and qmax and qmax * qmax * dims < (1 << 52):
        Q_a = Q_a.astype(np.float64)
        Q_b = Q_a if upper else Q_b.astype(np.float64)

    n2a = np.sqrt(np.einsum("ij,ij->i", Q_a, Q_a).astype(np.float64))
    n2b = n2a if upper else np.sqrt(
        np.einsum("ij,ij->i", Q_b, Q_b).astype(np.float64)
    )
    out_a, out_b, out_c = [], [], []
    ma, mb = len(ids_a), len(ids_b)
    for i0 in range(0, ma, blk):
        i1 = min(i0 + blk, ma)
        for j0 in range(i0 if upper else 0, mb, blk):
            j1 = min(j0 + blk, mb)
            G = (Q_a[i0:i1] @ Q_b[j0:j1].T).astype(np.float64)
            denom = np.outer(n2a[i0:i1], n2b[j0:j1])
            with np.errstate(divide="ignore", invalid="ignore"):
                C = np.where(denom > 0, G / denom, np.nan)
                # survivors only: np.indices materialized 2·blk² int64
                # index arrays (256 MB per 4096² tile) and fancy-indexed
                # the FULL tile before filtering — on real thresholds
                # almost everything drops, so enumerate the keep-mask's
                # nonzero cells instead (NaN compares False by itself)
                keep = C >= pre_tau
            if upper and i0 == j0:  # diagonal tile: strict upper triangle
                keep &= _strict_upper_mask(i1 - i0)
            ia, ib = np.nonzero(keep)
            out_a.append(ids_a[i0 + ia])
            out_b.append(ids_b[j0 + ib])
            out_c.append(C[ia, ib])
    if not out_a:
        empty = np.array([], dtype=ids_a.dtype)
        return empty, empty, np.array([], dtype=np.float64)
    a = np.concatenate(out_a)
    b = np.concatenate(out_b)
    c = np.concatenate(out_c)
    if not upper:  # unordered pair → (min, max); fancy-index RHS copies first
        swap = a > b
        a[swap], b[swap] = b[swap], a[swap]
    return a, b, c


def embedding_lsh_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    num_planes: int = 64,
    bands: int = 16,
    dims: int = 64,
    hot_bucket_block: int = 4096,
    hot_bucket_split: int | None = None,
) -> DataFrame:
    """Bucketed embedding near-dup — the 100 TB primary: pairs that share at
    least one hyperplane-LSH band bucket AND have cosine >= τ.

    Plan shape (two Arrow-batched passes + ONE shuffle): a map-only pass
    computes each vector's ``num_planes``-bit sign code with one numpy
    matmul and emits ``bands`` rows of ``(band, bucket, id, fixed-point
    vec)``; the only shuffle is the groupBy on (band, bucket); inside each
    bucket a second pass forms the candidate pairs and verifies cosine with
    a single int64 Gram matmul, emitting only near-threshold pairs. No
    nested-loop/cartesian join anywhere, and no per-pair vector transfer:
    the earlier id-only candidate join + vector re-join shipped every
    candidate's BOTH vectors through Arrow (1.3 GB for 1.3M candidates at
    sf0.1, 19 s); this shape ships each vector once per band (16 MB, 5 s).

    Correctness is engine-exact: quantizing to ``round(v·2^20)`` makes dot
    and squared norms exact int64 sums (≤2^46, exactly representable in
    double), so values are order-insensitive — numpy matmul here,
    ``list_dot_product`` in the DuckDB oracle, bit-identical; the only
    float steps (sqrt, multiply, divide) are IEEE correctly-rounded. The
    Python side pre-filters at ``τ - 1e-6`` (ROUND(·,6) moves a value by
    ≤5e-7, so no kept pair can be lost); the authoritative ROUND + filter
    happens JVM-side with Spark's HALF_UP semantics, then duplicates from
    multi-band collisions collapse with one dropDuplicates on the pair.

    Collision probability per bit is 1-θ/π: at near-dup thresholds (τ≥0.9)
    wider bands (8 bits) cut candidates ~30×; at permissive τ narrower
    bands keep recall. Hot buckets: the in-bucket verify enumerates the
    pair triangle in ``hot_bucket_block``-sized tiles, so per-task memory
    is O(block²) regardless of bucket size (an adversarial distribution
    that lands ~n/bands rows in one bucket costs time in that task, never
    an executor OOM); the tile sweep visits exactly the full (i<j) pair
    set, pinned identical with/without tiling by a planted-hot-bucket
    property test. CPU within one bucket's task is O(m²) dot products —
    ``hot_bucket_split`` additionally SPLITS buckets above the bound into
    id-hash sub-buckets and fans their pair space out over S·(S+1)/2
    independent tasks (triangle partitioning), distributing the wall-clock
    too, at the cost of a detection pass (persist + key counts) and S×
    replication of the split buckets' rows; ``embedding_multiprobe_pairs``'s
    equi-join verify shape is the alternative when even that is too coarse.
    """
    if num_planes % bands:
        raise ValueError("num_planes must divide evenly into bands")
    import numpy as np

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    w = num_planes // bands
    signs = rademacher_signs_matrix(num_planes, dims)
    weights = (2 ** np.arange(w - 1, -1, -1)).astype(np.int64)
    fxp = FXP
    nb_bands = bands
    id_type = df.schema[id_col].dataType
    bucket_schema = StructType(
        [
            StructField("band", IntegerType()),
            StructField("bucket", LongType()),
            StructField("id", id_type),
            StructField("q", ArrayType(LongType())),
        ]
    )

    def bucketize(batches):
        import pandas as pd

        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            n = len(pdf)
            if not n:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            iv = quantize_fxp(v * fxp)
            bits = (iv @ signs >= 0).astype(np.int64)
            buckets = bits.reshape(n, nb_bands, w) @ weights  # (n, bands)
            ids = pdf[id_col].to_numpy()
            qlist = list(iv)
            yield pd.DataFrame(
                {
                    "band": np.repeat(np.arange(nb_bands, dtype=np.int32), n),
                    "bucket": buckets.T.reshape(-1),
                    "id": np.tile(ids, nb_bands),
                    "q": qlist * nb_bands,
                }
            )

    bucketed = df.select(id_col, vec_col).mapInPandas(bucketize, schema=bucket_schema)

    pair_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("cosine_raw", DoubleType()),
        ]
    )
    pre_tau = threshold - 1e-6

    blk = int(hot_bucket_block)

    def _empty_pairs():
        import pandas as pd

        return pd.DataFrame({"id_a": [], "id_b": [], "cosine_raw": []}).astype(
            {"cosine_raw": "float64"}
        )

    def bucket_pairs(key, pdf):
        import pandas as pd

        m = len(pdf)
        if m < 2:
            return _empty_pairs()
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        Q = np.stack(pdf["q"].to_numpy())[order].astype(np.int64)
        # Hot-bucket memory bound: _tile_pairs enumerates the upper triangle
        # in (blk × blk) tiles instead of one m×m Gram — peak memory is
        # O(blk²) however large the bucket (an adversarial distribution
        # can put ~n/bands rows in one bucket; the full Gram would be
        # O((n/bands)²) bytes in ONE task). Tile-by-tile enumeration
        # visits exactly the same (i < j) pairs, so the result is
        # identical (pinned by test_round7 hot-bucket test).
        a, b, c = _tile_pairs(ids, Q, ids, Q, blk, pre_tau, upper=True)
        return pd.DataFrame({"id_a": a, "id_b": b, "cosine_raw": c})

    def hot_bucket_pairs(key, pdf):
        # task key = (band, bucket, s1, s2): the (s1, s2) sub-bucket pair of
        # one hot bucket. Diagonal tasks (s1 == s2) hold the rows of that one
        # sub-bucket and emit its internal triangle; cross tasks hold the two
        # disjoint sub-buckets and emit only cross pairs — so each unordered
        # pair of the bucket is produced by exactly one task.
        import pandas as pd

        s1, s2 = int(key[2]), int(key[3])
        ids = pdf["id"].to_numpy()
        Q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
        if s1 == s2:
            if len(ids) < 2:
                return _empty_pairs()
            order = np.argsort(ids, kind="stable")
            a, b, c = _tile_pairs(
                ids[order], Q[order], ids[order], Q[order], blk, pre_tau,
                upper=True,
            )
        else:
            sb = pdf["sb"].to_numpy()
            ma = sb == s1
            if not ma.any() or ma.all():
                return _empty_pairs()
            a, b, c = _tile_pairs(
                ids[ma], Q[ma], ids[~ma], Q[~ma], blk, pre_tau, upper=False
            )
        return pd.DataFrame({"id_a": a, "id_b": b, "cosine_raw": c})

    # Wall-clock parallelism for adversarially hot buckets (round-4 verdict
    # ask #5): tiling bounds MEMORY but one hot bucket still serializes all
    # its tiles in a single task. With ``hot_bucket_split`` set, buckets
    # larger than the bound are split into S = ceil(m / bound) sub-buckets
    # by id-hash and their pair space fans out over S·(S+1)/2 independent
    # tasks (each row replicated S times — the classic all-pairs triangle
    # partitioning), so the O(m²) dot products spread across the cluster.
    # Detection costs one persisted pass + a tiny key-count aggregate, and
    # the sub-bucket hash only routes work — the emitted pair set is
    # identical (property-pinned), so results stay engine-exact. Default
    # None keeps today's single-pass plan byte-for-byte (no detection job).
    all_hot = False
    if hot_bucket_split is not None:
        from pyspark import StorageLevel

        split = int(hot_bucket_split)
        bucketed = bucketed.persist(StorageLevel.MEMORY_AND_DISK)
        # Detection collect is CAPPED (round-5 verdict nit #1): each hot
        # bucket has > split members, so at most n·bands/split rows can come
        # back — driver-safe on any realistic corpus, but a pathological
        # all-hot corpus at 1e10 signatures could still return tens of
        # millions of tiny rows. limit(K+1) bounds the transfer; when K is
        # exceeded we stop targeting and split EVERY bucket uniformly — the
        # sub-bucket hash only routes work, so the emitted pair set is
        # identical (property-pinned), just with S× replication of cold
        # buckets too.
        hot_rows = (
            bucketed.groupBy("band", "bucket")
            .count()
            .where(F.col("count") > split)
            .limit(HOT_DETECT_CAP + 1)
            .collect()
        )
        if len(hot_rows) > HOT_DETECT_CAP:
            all_hot = True
    else:
        hot_rows = []

    _S_MAX = 64  # replication cap: S tasks per row of a split bucket

    def _split_pairs(marked):
        # sub-bucket by id-hash (routing only — never touches values), then
        # replicate each row to its S (s1, s2) task keys
        return (
            marked.withColumn("sb", F.pmod(F.xxhash64("id"), F.col("s")).cast("int"))
            .withColumn("t", F.explode(F.sequence(F.lit(0), F.col("s") - 1)))
            .select(
                "band", "bucket", "id", "q", "sb",
                F.least("sb", "t").alias("s1"),
                F.greatest("sb", "t").alias("s2"),
            )
            .groupBy("band", "bucket", "s1", "s2")
            .applyInPandas(hot_bucket_pairs, schema=pair_schema)
        )

    if all_hot:
        # Uniform fallback: every bucket splits into the same S sub-buckets.
        # S is fixed (not per-bucket count-derived — counts are exactly what
        # the cap refused to collect); memory stays O(blk²) via tiling and
        # genuinely-hot buckets still fan out over S·(S+1)/2 tasks.
        s_uniform = min(_S_MAX, HOT_UNIFORM_S)
        near = _split_pairs(bucketed.withColumn("s", F.lit(s_uniform)))
    elif not hot_rows:
        near = bucketed.groupBy("band", "bucket").applyInPandas(
            bucket_pairs, schema=pair_schema
        )
    else:
        from nimhdfstore_spark.tables import local_frame

        spark = df.sparkSession
        # LocalRelation (job-free broadcast side) instead of a
        # Python-RDD-backed frame
        hot_df = local_frame(
            spark,
            [
                (int(r["band"]), int(r["bucket"]),
                 int(min(_S_MAX, -(-int(r["count"]) // split))))
                for r in hot_rows
            ],
            "band int, bucket long, s int",
        )
        marked = bucketed.join(F.broadcast(hot_df), ["band", "bucket"], "left_outer")
        cold_near = (
            marked.where(F.col("s").isNull())
            .drop("s")
            .groupBy("band", "bucket")
            .applyInPandas(bucket_pairs, schema=pair_schema)
        )
        near = cold_near.unionByName(_split_pairs(marked.where(F.col("s").isNotNull())))
    return (
        near.withColumn("cosine", F.round(F.col("cosine_raw"), 6))
        .where(F.col("cosine") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "cosine")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    probe_filter: Column | None = None,
) -> DataFrame:
    """Pairs with cosine(vec_a, vec_b) >= τ. Brute-force pair join with the
    dot product in codegen (zip_with/aggregate). ``probe_filter`` bounds the
    left side; at scale, LSH-bucket or IVF-cluster first (similarity.py) and
    reuse this as the verifier within buckets."""
    from nimhdfstore_spark.functions.vector import dot, l2_norm

    # precompute each vector's norm once (O(n)) instead of per pair (O(n²));
    # dot/(na*nb) is bit-identical to dot/(sqrt(aa)*sqrt(bb)).
    left = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        l2_norm(vec_col).alias("na"),
    )
    if probe_filter is not None:
        left = left.where(probe_filter)
    right = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        l2_norm(vec_col).alias("nb"),
    )
    pairs = left.join(right, F.col("id_a") < F.col("id_b"))
    sim = F.round(
        F.when(
            (F.col("na") > 0) & (F.col("nb") > 0),
            dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
        ),
        6,
    )
    return (
        pairs.withColumn("cosine", sim)
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# --------------------------------------------------------------------------
# near-dup clustering: connected components over a pair list
# --------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    max_iter: int = 30,
    driver_max_edges: int = 1_000_000,
    strict: bool = False,
) -> DataFrame:
    """(id, component) where component = min node id reachable from ``id``
    through ``pairs`` (columns ``id_a``/``id_b``) — the step a dedup
    pipeline needs after pair generation: pairs only say "these two match",
    components pick one canonical representative per duplicate *cluster*
    (min id), including transitively (A~B, B~C ⇒ one cluster {A,B,C}).

    Precondition: ``pairs`` ids must be a subset of ``nodes`` ids. Every
    in-repo pair generator derives pairs FROM the node corpus, so this
    holds by construction. It matters because the two paths below diverge
    on dangling ids: driver union-find would merge components THROUGH an
    unlabeled id (and can pick it as the min label), while min-label
    propagation only propagates across labeled nodes — which path runs
    (and hence the answer) would otherwise depend on the edge count.
    ``strict=True`` enforces the precondition with a semi-join of pairs
    against nodes on both endpoints (costs a shuffle of ``nodes`` — off by
    default; turn it on for externally-sourced pair lists).

    Two paths, gated on the EDGE count (never the node count):

    - ``driver union-find`` (≤ ``driver_max_edges`` pairs): near-dup pair
      lists are metadata-scale relative to the corpus — a 100 TB corpus
      with 1M duplicate pairs still has only 1M edges. Collect just the
      pair list (one job, ``limit(k+1)`` bounds the transfer), union-find
      on the driver, broadcast the (id, comp) mapping back, and label the
      corpus with ONE broadcast-join projection. Nodes are never
      collected: singletons (the overwhelming majority) fall out of the
      ``coalesce(comp, id)`` without ever appearing in the mapping. This
      is the same small-side-to-driver move a broadcast join makes, and it
      replaces ~rounds×4 tiny jobs with 2 (measured at sf0.1: 23 s → 2 s).

    - ``min-label propagation`` (larger edge sets): each round every node
      takes the min of its own label and its neighbors' — equi-join +
      groupBy-min, pure shuffle-on-key work that AQE/skew handling covers.
      Convergence in O(component diameter) rounds; near-dup clusters are
      dense (almost cliques), so 2-4 rounds in practice. The fixpoint
      check is one SUM aggregate per round (labels only decrease, so sum
      unchanged ⟺ fixpoint). Each round's labels are ``localCheckpoint``-ed
      — iterative plans that merely persist double their logical plan per
      round and the analyzer blows up after ~10 rounds (measured). At
      extreme diameters the published large-star/small-star contraction
      halves rounds to O(log n); near-dup graphs don't need it.
    """
    from pyspark.sql.types import IntegerType, LongType, ShortType

    if strict:
        node_ids = nodes.select(F.col(id_col).alias("__nid"))
        pairs = (
            pairs.join(node_ids, pairs["id_a"] == F.col("__nid"), "left_semi")
            .join(node_ids, pairs["id_b"] == F.col("__nid"), "left_semi")
        )

    # the driver path (and the distributed path's comp = id cast long)
    # both assume integral ids; non-integral ids fall through to the
    # distributed path, preserving its existing semantics
    _integral = isinstance(
        nodes.schema[id_col].dataType, (LongType, IntegerType, ShortType)
    )
    if driver_max_edges > 0 and _integral:
        rows = (
            pairs.select("id_a", "id_b").limit(driver_max_edges + 1).collect()
        )
        if len(rows) <= driver_max_edges:
            from pyspark.sql.types import StructField, StructType

            parent: dict = {}

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for r in rows:
                a, b = r["id_a"], r["id_b"]
                if a is None or b is None:
                    continue  # equi-joins never match null keys; same here
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[ra] = rb
            comp_min: dict = {}
            for x in parent:
                rx = find(x)
                m = comp_min.get(rx)
                if m is None or x < m:
                    comp_min[rx] = x
            id_type = nodes.schema[id_col].dataType
            from nimhdfstore_spark.tables import local_frame

            # LocalRelation, not createDataFrame(list): the latter is
            # Python-RDD-backed and schedules a Python-worker job every
            # time the mapping is (re)read by the labeling join.
            # local_frame refuses id types it cannot convert faithfully
            # (timestamps) — those keep the classic conversion.
            comp_rows = [(x, int(comp_min[find(x)])) for x in parent]
            schema = StructType(
                [StructField("id", id_type), StructField("comp", LongType())]
            )
            try:
                mapping = local_frame(pairs.sparkSession, comp_rows, schema)
            except ValueError:
                mapping = pairs.sparkSession.createDataFrame(comp_rows, schema)
            return nodes.select(F.col(id_col).alias("id")).join(
                F.broadcast(mapping), "id", "left"
            ).select(
                "id",
                F.coalesce(F.col("comp"), F.col("id").cast("long")).alias("comp"),
            )

    e = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    edges = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist()
    labels = nodes.select(
        F.col(id_col).alias("id"), F.col(id_col).cast("long").alias("comp")
    ).localCheckpoint(eager=True)
    prev = labels.agg(F.sum("comp")).collect()[0][0]
    try:
        for _ in range(max_iter):
            nbr = (
                edges.join(labels.withColumnRenamed("id", "nid"),
                           F.col("b") == F.col("nid"))
                .groupBy("a")
                .agg(F.min("comp").alias("nmin"))
            )
            new_labels = (
                labels.join(nbr, labels["id"] == nbr["a"], "left")
                .select(
                    F.col("id"),
                    F.least(
                        F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))
                    ).alias("comp"),
                )
                .localCheckpoint(eager=True)
            )
            cur = new_labels.agg(F.sum("comp")).collect()[0][0]
            labels = new_labels
            if cur == prev:
                break
            prev = cur
        else:
            raise RuntimeError(
                f"connected_components: no fixpoint in {max_iter} rounds"
            )
        return labels
    finally:
        edges.unpersist()


def chunk_boilerplate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Chunk-level boilerplate detection (the within-corpus repeated-passage
    dedup step of RefinedWeb/C4-style pipelines): split each document into
    consecutive ``chunk_tokens``-token chunks and mark chunks that occur in
    ``min_docs``+ distinct documents. Returns per-document
    ``(id_col, n_chunks, n_boiler)``.

    Scale shape: chunk strings are assembled with window ``lead`` over the
    exploded token stream (whole-stage codegen; the doc-partitioned window
    shuffle also spreads per-doc work across the cluster — the HOF-on-one-
    split hazard from BASELINE.md doesn't apply), then one groupBy(chunk)
    with map-side partial aggregation finds repeated chunks. No pair join:
    cost is O(total tokens), never O(docs²)."""
    from pyspark.sql.window import Window

    e = df.select(
        id_col, F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "token")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    chunk = F.concat_ws(
        " ",
        F.col("token"),
        *[F.lead("token", i).over(w) for i in range(1, chunk_tokens)],
    )
    ch = (
        e.withColumn("chunk", chunk)
        .where(F.col("pos") % chunk_tokens == 0)
        .select(id_col, "chunk")
    )
    boiler = (
        ch.groupBy("chunk")
        .agg(F.countDistinct(id_col).alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("chunk", F.lit(1).alias("is_boiler"))
    )
    return (
        ch.join(boiler, "chunk", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count("is_boiler").alias("n_boiler"),
        )
    )


def embedding_multiprobe_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    num_planes: int = 64,
    bands: int = 4,
    dims: int = 64,
) -> DataFrame:
    """Multi-probe hyperplane LSH (Lv et al., VLDB 2007, public): with FEW
    wide bands (here 4 × 16 bits — random-pair collision ~1/65536 per
    band), recall is recovered by ALSO probing every bucket at Hamming
    distance 1 in the band bits (the most-likely-misplaced codes), instead
    of multiplying the band count. Candidate volume stays ~(w+1)/2^w of a
    narrow-band scheme while near-dup recall at τ≥0.95 stays high —
    the published cost/recall axis ``embedding_lsh_pairs`` (many narrow
    bands) doesn't cover.

    Plan: the (band, bucket, id) index is built once from the numpy bit
    pass; the probe side explodes each vector to its exact bucket plus w
    single-bit flips (``bucket ^ (1<<j)`` — XOR is engine-independent);
    the ONLY shuffle is the groupBy on the probed (band, bucket) key, and
    verification runs IN-BUCKET with one int64 Gram matmul between each
    bucket's visitors and members (tiled — the x34 kernel). The earlier
    shape materialized the probe⋈index equi-join as candidate PAIR rows
    and then joined each pair to both vectors — on a dup-heavy corpus the
    pair rows (quadratic in bucket occupancy) shipped ~two vectors per
    candidate through a shuffle (~100 GB at a 20k-vector 10×-replicated
    sweep, 399 s); the grouped shape ships each vector once per probe
    (≤ (w+2)·bands copies, linear in n) and the dense dot-product work
    runs as matmul, measured 399 → ~8 s at the same scale with an
    identical pair set. Exact fixed-point cosine (order-insensitive int
    sums) keeps the DuckDB oracle bit-identical — the candidate RELATION
    (Hamming ≤ 1 within a band, which is symmetric) is unchanged.
    """
    if num_planes % bands:
        raise ValueError("num_planes must divide evenly into bands")
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    w = num_planes // bands
    coded = hyperplane_bits_table(df, id_col, vec_col, num_planes, dims)
    qvecs = df.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col), lambda v: F.round(v.cast("double") * FXP).cast("long")
        ).alias("q"),
    )
    rows = coded.join(qvecs, "id")
    band_cols = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            sum(
                (F.col("bits")[b * w + j] * F.lit(2 ** (w - 1 - j)) for j in range(w)),
                F.lit(0),
            ).cast("long").alias("bucket"),
        )
        for b in range(bands)
    ])
    exact = rows.select(
        "id", "q", F.explode(band_cols).alias("bb")
    ).select(
        "id", "q", F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    # member row (role 0) lands in its exact bucket; visitor rows (role 1)
    # land in the exact bucket AND every Hamming-1 flip — a pair is a
    # candidate iff some band codes are within Hamming distance 1, and that
    # relation is symmetric, so visitor(a)→member(b) enumerates it
    probe_buckets = F.array(
        F.col("bucket"),
        *[F.expr(f"bucket ^ {1 << j}").cast("long") for j in range(w)],
    )
    members = exact.withColumn("role", F.lit(0))
    visitors = exact.select(
        "id", "q", "band", F.explode(probe_buckets).alias("bucket")
    ).withColumn("role", F.lit(1))
    together = members.unionByName(visitors)

    id_type = df.schema[id_col].dataType
    pair_schema = StructType([
        StructField("id_a", id_type),
        StructField("id_b", id_type),
        StructField("cosine_raw", DoubleType()),
    ])
    pre_tau = threshold - 1e-6
    blk = 4096

    def probe_bucket_pairs(key, pdf):
        import pandas as pd

        vis = pdf[pdf["role"] == 1]
        mem = pdf[pdf["role"] == 0]
        if not len(vis) or not len(mem):
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "cosine_raw": []}
            ).astype({"cosine_raw": "float64"})
        a, b, c = _tile_pairs(
            vis["id"].to_numpy(),
            np.stack(vis["q"].to_numpy()).astype(np.int64),
            mem["id"].to_numpy(),
            np.stack(mem["q"].to_numpy()).astype(np.int64),
            blk, pre_tau, upper=False,
        )
        keep = a != b  # visitor and member sets overlap: drop self-pairs
        return pd.DataFrame(
            {"id_a": a[keep], "id_b": b[keep], "cosine_raw": c[keep]}
        )

    near = together.groupBy("band", "bucket").applyInPandas(
        probe_bucket_pairs, schema=pair_schema
    )
    return (
        near.withColumn("cosine", F.round(F.col("cosine_raw"), 6))
        .where(F.col("cosine") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "cosine")
    )


# --------------------------------------------------------------------------
# cross-document duplicated-span statistics (seed-and-merge)
# --------------------------------------------------------------------------

def _rolling_seed_scan(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    sample_mod: int,
    par: int,
) -> DataFrame:
    """The O(1)-per-char seed stage of ``duplicate_spans`` — a vectorized
    Rabin-Karp scan in Arrow-batched ``mapInPandas`` that selects the
    IDENTICAL seed set as the HOF path (property-pinned, alphabet includes
    BMP>127 and astral chars: Spark's split('')/substr/length/ascii all
    operate on CODE POINTS, matching this kernel's utf-32-le view — not on
    UTF-16 code units):

    with T_n = sum_{t<n} code_t * 31^{-t} (mod M), the window hash is
    H_i = (T_{i+k} - T_i) * 31^{i+k-1} mod M == poly_hash(s[i:i+k]) —
    one cumsum plus two vectorized modpow arrays per document instead of
    an O(k) fold per position. Every intermediate stays < 2^63: terms are
    < M*0x110000, the raw cumsum is exact for documents shorter than
    ~8e9 chars, and each modmul multiplies two residues < M ~ 2^30.
    """
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    schema = StructType([
        docs.schema[id_col],
        StructField("pos", LongType()),
        StructField("gram", StringType()),
    ])
    M, MUL = HASH_MOD, HASH_MUL

    def scan(it):
        import numpy as np
        import pandas as pd

        def powmod(base: int, exps: "np.ndarray") -> "np.ndarray":
            # elementwise base^exps mod M by binary exponentiation:
            # log2(max_exp) vectorized passes, residues stay < M
            res = np.ones(len(exps), dtype=np.int64)
            if not len(exps):
                return res
            e = exps.astype(np.int64)
            maxe, shift = int(e.max()), 0
            while (1 << shift) <= maxe:
                mask = ((e >> shift) & 1) == 1
                if mask.any():
                    res[mask] = res[mask] * pow(base, 1 << shift, M) % M
                shift += 1
            return res

        inv = pow(MUL, M - 2, M)
        for pdf in it:
            ids, poss, grams = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None or len(text) < k:
                    continue
                codes = np.frombuffer(
                    text.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                n = len(codes)
                terms = codes % M * powmod(inv, np.arange(n)) % M
                cs = np.concatenate(([0], np.cumsum(terms)))
                i = np.arange(n - k + 1)
                h = (cs[i + k] - cs[i]) % M * powmod(MUL, i + k - 1) % M
                sel = np.flatnonzero(h % sample_mod == 0)
                for p in sel:
                    ids.append(did)
                    poss.append(int(p) + 1)
                    grams.append(text[p : p + k])
            yield pd.DataFrame(
                {id_col: ids, "pos": poss, "gram": grams}
            ).astype({"pos": "int64"}, errors="ignore")

    return (
        docs.where(F.length(F.col(text_col)) >= k)
        .repartition(par, F.col(id_col))
        .select(id_col, text_col)
        .mapInPandas(scan, schema=schema)
    )


def duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 24,
    sample_mod: int = 8,
    rolling: bool = False,
) -> DataFrame:
    """Cross-document duplicated-SPAN statistics — the distributed
    re-expression of exact-substring dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022, which builds a
    single-machine suffix array; a suffix array cannot shard).

    Seeds are **content-defined** (winnowing / content-defined-chunking
    family, Schleimer et al. 2003): every k-gram position is hashed
    (``poly_hash``) and a position is a seed iff ``hash % sample_mod == 0``
    — expected density ``1/sample_mod``. Content-defined selection is the
    load-bearing choice: a fixed-stride grid has an independent phase in
    each document, so two copies of a span can sample DISJOINT k-gram sets
    and a shared span of ANY length can be missed. Hash-sampling depends
    only on the gram's own bytes, so the two copies of a shared span
    select exactly the same span-relative seeds — a span is detected in
    both documents or in neither, with miss probability
    ``(1-1/sample_mod)^(L-k+1)`` for span length L, independent of where
    the span lands.

    Three stages, all linear in corpus size and whole-stage codegen'd:

    1. **Seed**: explode positions, hash each k-gram, keep the sampled
       ~1/mod. Two interchangeable implementations selected by
       ``rolling``: the default JVM HOF form (O(k) substring hash per
       position, whole-stage codegen, zero Python) and the Rabin-Karp
       ``mapInPandas`` kernel (``_rolling_seed_scan``, O(1)/char — the
       100 TB form when k is large). Both select the IDENTICAL seed set
       (property-pinned), so every downstream stage and the SQL oracle
       are shared.
    2. **Mark**: one groupBy(gram) over the SAMPLED seeds marks grams in
       >= 2 distinct documents, then an equi-join flags occurrences. The
       shuffle carries only sampled grams (~1/mod of positions); at
       100 TB the gram string key becomes its int64 hash — same shape.
    3. **Merge**: duplicated seeds closer than k chars merge into spans
       (gaps-and-islands: a break where the gap to the previous dup seed
       exceeds k, running-sum island ids over a doc-partitioned window —
       per-document state only).

    Returns one row per document (with length >= k):
    ``(id_col, n_seeds, dup_seeds, n_spans, span_chars)`` with
    ``span_chars = sum(max_pos - min_pos + k)`` over merged spans — the
    exact character coverage of each island (islands are > k apart, so
    spans never overlap and the sum never double-counts).
    """
    from pyspark.sql.window import Window

    t = F.col(text_col)
    # spread documents BEFORE the per-position explode+hash: a single-file
    # corpus otherwise runs the whole O(total_chars * k) hashing pass on
    # one task (the HOF-on-one-split hazard from BASELINE.md). The count
    # must be EXPLICIT: the pre-explode input is small, so an unpinned
    # repartition gets AQE-coalesced back to one partition — the blowup
    # (x~len per doc) happens after the exchange where AQE can't see it.
    par = docs.sparkSession.sparkContext.defaultParallelism
    if rolling:
        seeds = _rolling_seed_scan(docs, id_col, text_col, k, sample_mod, par)
    else:
        grams = (
            docs.where(F.length(t) >= k)
            .repartition(par, F.col(id_col))
            .select(
                id_col,
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.length(t) - k + 1),
                        lambda i: F.struct(
                            i.alias("pos"), t.substr(i, F.lit(k)).alias("gram")
                        ),
                    )
                ).alias("s"),
            )
            .select(
                id_col, F.col("s.pos").alias("pos"), F.col("s.gram").alias("gram")
            )
        )
        seeds = grams.where(poly_hash(F.col("gram")) % sample_mod == 0)
    dup = (
        seeds.groupBy("gram")
        .agg(F.countDistinct(id_col).alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gram", F.lit(1).alias("_dup"))
    )
    marked = seeds.join(dup, "gram", "left")

    w = Window.partitionBy(id_col).orderBy("pos")
    # two window passes (a window expression cannot nest inside another):
    # break flag where the gap to the previous dup seed exceeds k, then a
    # running sum of breaks = island id. Same doc-partitioned shuffle.
    isl = (
        marked.where(F.col("_dup").isNotNull())
        .withColumn(
            "brk",
            F.when(
                F.lag("pos").over(w).isNull()
                | ((F.col("pos") - F.lag("pos").over(w)) > k),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    spans = (
        isl.groupBy(id_col, "island")
        .agg((F.max("pos") - F.min("pos") + k).alias("chars"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("chars").alias("span_chars"),
        )
    )
    # one row per length>=k document even when its k-grams sample ZERO
    # seeds (hash % sample_mod never 0) — zero-filled counts, so the stated
    # per-doc contract holds and downstream joins never silently drop docs
    base = docs.where(F.length(t) >= k).select(id_col)
    seed_stats = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_seeds"),
        F.count("_dup").alias("dup_seeds"),
    )
    return (
        base.join(seed_stats, id_col, "left")
        .join(spans, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_seeds"), F.lit(0)).cast("long").alias("n_seeds"),
            F.coalesce(F.col("dup_seeds"), F.lit(0)).cast("long").alias("dup_seeds"),
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("span_chars"), F.lit(0)).cast("long").alias("span_chars"),
        )
    )
