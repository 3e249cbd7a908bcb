"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

All hashing is built on md5 hex substrings cast to bigint so the exact
same arithmetic is expressible in ANSI SQL (DuckDB oracles) — no
engine-specific hash functions cross the parity boundary.  Everything
below is pure built-in expressions (JVM-side, WholeStageCodegen); no
Python UDFs.

Scale shapes:
- exact dedup: one hash-aggregate on a 64-bit digest (not raw text);
- Jaccard: shingle explode -> equi-join on shingle -> count ratio; the
  shingle join is the classic candidate generator, skew-guarded by
  dropping ultra-frequent shingles (stop-shingles);
- MinHash/LSH: signatures are per-row aggregates (no shuffle), banding
  joins only collide candidates — the 100TB-safe near-dup pattern;
- SimHash: per-row bit aggregate, banded the same way.
Both bandings generate pairs with ops.similarity.bucket_pairs, the
guarded bucket self-join the embedding near-dup operators share.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from phonlp_spark.ops.fanout import fan_out, fan_width
from phonlp_spark.ops.similarity import bucket_pairs, drop_hot_buckets

# Default sketch sizes — sized for the sandbox fixtures.  All operators
# take these as ARGUMENTS so a 100-TB corpus runs e.g. 128 minhashes /
# 16 bands and 64 simhash bits without code changes; the oracle-SQL
# generators in __spark_entry__.py parameterize identically.
N_MINHASH = 8
LSH_BAND = 2  # hashes per band (8/2 = 4 bands)
SIMHASH_BITS = 16


def _h64(col: Column) -> Column:
    """Portable 60-bit hash: bigint from the first 15 hex chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def exact_dedup(docs: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """One survivor (min key) per distinct text; group sizes included."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("digest"))
        .agg(F.min(key_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dupes"))
        .select("keep_id", "n_dupes")
    )


def token_shingles(docs: DataFrame, n: int = 3, text_col: str = "text",
                   key_col: str = "doc_id") -> DataFrame:
    """(key, shingle) distinct token n-grams, built JVM-side."""
    toks = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    sh = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    return (
        docs.filter(F.size(toks) >= n)
        .select(F.col(key_col).alias("key"), F.explode(F.array_distinct(sh)).alias("shingle"))
    )


def _shingles_wide(docs: DataFrame, n: int, text_col: str,
                   key_col: str) -> DataFrame:
    """Canonical fanned-out shingle table: round-robin the (narrow) doc
    scan so shingling itself parallelizes, then ONE hash exchange on
    shingle.  Every consumer of the returned frame that needs the
    shingle table (hot-shingle scan, posting lists, sizes, signature
    partial-aggregates) hangs off the SAME exchange, so Spark's
    exchange reuse computes scan + shingling once per query instead of
    once per consumer, and every downstream stage starts at cluster
    width instead of the scan stage's 1-2 tasks (guide §2.4)."""
    w = fan_width(docs)
    sh = token_shingles(fan_out(docs, w), n, text_col, key_col)
    return sh.repartition(w, "shingle")


def _guarded_shingles(sh: DataFrame, max_shingle_freq: int
                      ) -> tuple[DataFrame, DataFrame]:
    """(shingle rows minus stop-shingles, per-key set sizes ``sz``): the
    stop-shingle skew guard is drop_hot_buckets keyed on the shingle,
    applied before any pair is formed."""
    shf = drop_hot_buckets(sh, ["shingle"], max_shingle_freq)
    return shf, shf.groupBy("key").agg(F.count(F.lit(1)).alias("sz"))


def _jaccard_at_least(pairs: DataFrame, min_pct: int) -> DataFrame:
    """Integer-exact Jaccard >= min_pct/100 on (a, b, common, na, nb):
    100*common >= min_pct*(na+nb-common), float-free so oracles hash
    identically."""
    return (
        pairs.filter(F.lit(100) * F.col("common")
                     >= F.lit(min_pct) * (F.col("na") + F.col("nb") - F.col("common")))
        .select("a", "b", "common", "na", "nb")
    )


def jaccard_pairs(docs: DataFrame, n: int = 3, min_pct: int = 5,
                  text_col: str = "text", key_col: str = "doc_id",
                  max_shingle_freq: int = 1000) -> DataFrame:
    """Candidate pairs with integer-exact Jaccard filter.

    Emits (a, b, common, na, nb) for pairs whose Jaccard(3-gram sets)
    >= min_pct/100, evaluated as 100*common >= min_pct*(na+nb-common)
    (integers only — float-free so oracles hash identically).
    Shingles occurring in > max_shingle_freq docs are dropped
    (stop-shingle skew guard).

    Plan shape (guide §2.4/§2.5): one shared shingle exchange; the
    stop-shingle guard is a broadcast anti join applied BEFORE posting
    lists are collected (bounding every list at max_shingle_freq); the
    intersection counts come from per-shingle posting lists expanded to
    (a, b) pairs JVM-side.  The quadratic pair stream is generated and
    partially aggregated across the full cluster width — the previous
    shingle self-join put it on the probe side of a broadcast join,
    i.e. on the scan stage's 1-2 tasks (281 s at ~1.5 busy cores at
    sf1.0; see plans/r07/dedup_jaccard_before.txt).
    """
    shf, sizes = _guarded_shingles(_shingles_wide(docs, n, text_col, key_col),
                                   max_shingle_freq)
    # Attach each doc's shingle-set size to its shingle rows BEFORE
    # posting lists are collected: pairs then emerge as (a, b, na, nb)
    # directly and the candidate table never joins anything downstream
    # (guide §2.4 — also avoids the planner broadcasting the huge pair
    # table on a post-aggregate size underestimate, the failure mode of
    # the join-back formulation).
    # sz rides the pair exchange as int (a doc's shingle-set size is
    # nowhere near 2^31): 24 B/row instead of 32 B across the ~114M-row
    # shuffle (guide §2.3 "narrower types"); cast back to bigint after
    # the aggregate so output types are unchanged
    shs = shf.join(sizes.withColumn("sz", F.col("sz").cast("int")), "key")
    # per-shingle posting list, sorted so expansion emits a < b pairs;
    # keys are distinct within a shingle group (token_shingles emits
    # distinct shingles per doc), so the key order is strictly ascending
    posts = shs.groupBy("shingle").agg(
        F.sort_array(F.collect_list(F.struct("key", "sz"))).alias("ks"))
    pair_arr = F.expr(
        "flatten(transform(ks, (x, i) -> transform("
        "slice(ks, i + 2, size(ks)), "
        "y -> struct(x.key AS a, y.key AS b, x.sz AS na, y.sz AS nb))))")
    pairs = (
        posts.filter(F.size("ks") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .select("p.a", "p.b", "p.na", "p.nb")
        # explicit exchange BEFORE the aggregate: pair emissions are
        # ~90% unique (a, b) groups (measured 114M distinct of 127M at
        # sf1.0), so a map-side partial aggregate is a wasted full hash
        # pass over the stream.  Partitioning by (a, b) first turns the
        # aggregate into one complete pass (HashPartitioning on a
        # subset of the grouping keys satisfies the clustering), and 4x
        # width keeps each task's hash map cache-friendly (measured
        # 19.6 -> 14.8 s at sf1.0).
        .repartition(4 * fan_width(docs), "a", "b")
        .groupBy("a", "b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("common"))
        .select("a", "b", "common",
                F.col("na").cast("bigint").alias("na"),
                F.col("nb").cast("bigint").alias("nb"))
    )
    return _jaccard_at_least(pairs, min_pct)


def _signatures_from_shingles(sh: DataFrame, n_minhash: int) -> DataFrame:
    aggs = [
        F.min(_h64(F.concat(F.lit(f"{j}:"), F.col("shingle")))).alias(f"mh{j}")
        for j in range(n_minhash)
    ]
    return sh.groupBy("key").agg(*aggs)


def minhash_signatures(docs: DataFrame, n: int = 3, text_col: str = "text",
                       key_col: str = "doc_id",
                       n_minhash: int = N_MINHASH) -> DataFrame:
    """(key, mh0..mh{N-1}): per-doc min over salted shingle hashes.

    Docs are fanned out before shingling so the n_minhash md5
    evaluations per shingle row (the dominant cost) run in the partial
    aggregate at cluster width, not inside the 1-2 scan tasks."""
    return _signatures_from_shingles(
        token_shingles(fan_out(docs), n, text_col, key_col), n_minhash)


def lsh_pairs_from_signatures(sig: DataFrame, n_minhash: int,
                              band: int) -> DataFrame:
    """Banding candidates from a precomputed signature table (columns
    key, mh0..mh{>=n_minhash-1}); only mh0..mh{n_minhash-1} are used.

    Because _h64's salt is the hash index itself, a narrower sketch's
    signatures are EXACTLY the first n_minhash columns of a wider
    sketch over the same shingles — so parameter variants can share one
    signature aggregate (dedup_lsh_pairs runs 8/2 and 32/4 over a
    single 32-hash table: 32 instead of 40 md5 evaluations per shingle
    row, one partial aggregate instead of two)."""
    return _band_pairs(sig, [
        F.md5(F.concat_ws("_", *[F.col(f"mh{b * band + j}").cast("string")
                                 for j in range(band)]))
        for b in range(n_minhash // band)])


def _band_pairs(sig: DataFrame, band_keys: list[Column],
                max_bucket_size: int | None = None,
                carry: tuple[str, ...] = ()) -> DataFrame:
    """Banding candidates: docs of ``sig`` sharing any (band, bucket).

    ONE posexplode projection: a per-band select + union would
    recompute the signature aggregate once per band; the single subtree
    is also what lets the self-join's two identical exchanges share via
    ReusedExchange."""
    buck = sig.select(
        "key", F.posexplode(F.array(*band_keys)).alias("band", "bucket"),
        *carry)
    return bucket_pairs(buck, ["band", "bucket"], max_bucket_size,
                        id_col="key", carry=carry)


def lsh_candidate_pairs(docs: DataFrame, n: int = 3, text_col: str = "text",
                        key_col: str = "doc_id",
                        n_minhash: int = N_MINHASH,
                        band: int = LSH_BAND) -> DataFrame:
    """Near-dup candidates: docs sharing any LSH band bucket."""
    return lsh_pairs_from_signatures(
        minhash_signatures(docs, n, text_col, key_col, n_minhash),
        n_minhash, band)


def lsh_verified_pairs(docs: DataFrame, n: int = 3, min_pct: int = 5,
                       text_col: str = "text", key_col: str = "doc_id",
                       n_minhash: int = N_MINHASH, band: int = LSH_BAND,
                       max_shingle_freq: int = 1000) -> DataFrame:
    """The production near-dup composition: LSH banding GENERATES
    candidates, exact n-gram Jaccard VERIFIES only those pairs.

    jaccard_pairs alone self-joins the shingle table — quadratic within
    hot shingle groups, the documented non-candidate-generator at
    100 TB.  Here the intersection count runs only over LSH candidate
    pairs (|cand| ~ linear in corpus for bounded duplication), with the
    same stop-shingle guard and the same integer-exact threshold rule,
    so output rows are a subset of jaccard_pairs (missing only pairs
    LSH failed to collide — measured by the dedup family's recall
    story, same as ann_recall for ANN).

    The plan references the shingle table from four consumers
    (signatures, stop-shingle scan, sizes, intersection); all four hang
    off one canonical shingle exchange (see _shingles_wide) that
    Spark's exchange reuse materializes once per query.
    """
    sh = _shingles_wide(docs, n, text_col, key_col)
    cand = lsh_pairs_from_signatures(
        _signatures_from_shingles(sh, n_minhash), n_minhash, band)
    sh, sizes = _guarded_shingles(sh, max_shingle_freq)
    common = (
        cand.join(sh.select(F.col("key").alias("a"), "shingle"), "a")
        .join(sh.select(F.col("key").alias("b"), "shingle"), ["b", "shingle"])
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("common"))
    )
    return _jaccard_at_least(
        common
        .join(sizes.withColumnRenamed("key", "a").withColumnRenamed("sz", "na"), "a")
        .join(sizes.withColumnRenamed("key", "b").withColumnRenamed("sz", "nb"), "b"),
        min_pct)


def simhash_pairs(docs: DataFrame, max_hamming: int = 3,
                  n_bands: int = 4, text_col: str = "text",
                  key_col: str = "doc_id",
                  bits: int = SIMHASH_BITS,
                  max_bucket_size: int | None = 100_000) -> DataFrame:
    """(a, b, hamming): near-dup pairs under SimHash Hamming distance.

    Candidates come from banding the fingerprint into n_bands equal
    chunks and joining on (band, chunk value) — by pigeonhole, any pair
    within max_hamming <= n_bands - 1 bit flips shares at least one
    band exactly, so candidate generation is COMPLETE for the default
    parameters (3 flips cannot touch all 4 bands).  Exact popcount-of-
    xor verification then filters; everything is integer codegen, never
    a cross product.

    ``max_bucket_size``: (band, chunk) groups holding more rows are
    dropped before the self-join (bucket_pairs' hot-bucket guard — a
    corpus of near-identical documents collapses into one chunk value).
    A dropped band costs candidates only for pairs whose OTHER shared
    bands are also hot, so the pigeonhole completeness claim degrades
    gracefully; the oracle SQL mirrors the cap.
    """
    assert bits % n_bands == 0, "bands must tile the fingerprint"
    assert max_hamming <= n_bands - 1, (
        "completeness needs max_hamming <= n_bands - 1 (pigeonhole)")
    width = bits // n_bands
    chunks = [
        F.shiftright(F.col("simhash"), b * width)
        .bitwiseAND(F.lit((1 << width) - 1))
        for b in range(n_bands)
    ]
    cand = _band_pairs(simhash(docs, text_col, key_col, bits), chunks,
                       max_bucket_size, carry=("simhash",))
    return (
        cand.withColumn("hamming",
                        F.expr("bit_count(simhash_a ^ simhash_b)").cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def simhash(docs: DataFrame, text_col: str = "text", key_col: str = "doc_id",
            bits: int = SIMHASH_BITS) -> DataFrame:
    """(key, simhash): sign-aggregated token fingerprint over `bits` bits."""
    tok = fan_out(docs).select(F.col(key_col).alias("key"),
                               F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    h = _h64(F.col("tok"))
    bit_sums = [
        F.sum(F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy("key").agg(*bit_sums)
    sim = F.lit(0).cast("bigint")
    for b in range(bits):
        sim = sim + F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(0)
    return agg.select("key", sim.alias("simhash"))
