"""Entity linking: broadcast alias dictionary + vectorized similarity.

North-star semantics (BASELINE.json): mention -> canonical entity id
via a broadcast alias dictionary; dictionary misses fall back to
vectorized character-3-gram cosine similarity against the alias
inventory (Arrow-batched pandas UDF — never per-row Python), top-1 by
window rank; residual misses mint a content-derived entity id (md5 of
the normalized surface), so ids are stable across partitions, runs and
cluster sizes.

Scale shape: linking cost is proportional to DISTINCT mention surfaces,
not total mentions — surfaces are deduplicated before scoring and the
assignment is joined back onto the mention stream.  Only the alias
dictionary (small by contract) is ever broadcast-hinted; surface-keyed
sides are unbounded, so their join strategy is left to AQE.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SIM_DIM = 2048       # hashed char-3gram space
SIM_THRESHOLD = 0.60
# Broadcast-path sizing: the alias inventory is collect()ed to the
# driver and its [A, SIM_DIM] float32 n-gram matrix is broadcast to
# every executor (~8 KB/alias); 1M aliases ≈ 8 GB broadcast — the cap.
# Inventories past the cap do NOT fail: link_surfaces auto-routes
# stage 2 to the distributed inverted-index gram join
# (_score_misses_distributed), where nothing alias-sized touches the
# driver.  PHONLP_SPARK_MAX_ALIASES moves the routing point.
import os as _os

MAX_ALIASES = int(_os.environ.get("PHONLP_SPARK_MAX_ALIASES", "1000000"))

ALIAS_SCHEMA = T.StructType([
    T.StructField("alias", T.StringType()),
    T.StructField("entity_id", T.StringType()),
    T.StructField("canonical", T.StringType()),
])


def norm_surface(col):
    """Normalization used on both the alias and mention sides."""
    return F.lower(F.regexp_replace(col, "_", " "))


def build_alias_dict(spark: SparkSession, names: list[str]) -> DataFrame:
    """Deterministic alias dictionary from canonical entity names.

    Variants per canonical name: the name itself, its space form, and a
    truncation to the first two segments — enough to create alias
    collisions across entities so canonicalization has real work.
    """
    import hashlib

    rows = []
    for name in names:
        eid = "E" + hashlib.md5(name.encode()).hexdigest()[:12]
        variants = {name, name.replace("_", " ")}
        parts = name.split("_")
        if len(parts) > 2:
            variants.add("_".join(parts[:2]))
        for v in variants:
            rows.append((v, eid, name))
    return spark.createDataFrame(rows, ALIAS_SCHEMA)


def _ngram_matrix(surfs, dim: int) -> np.ndarray:
    """L2-normalized hashed char-3gram count matrix [B, dim].

    Fully vectorized (rolling polynomial hash over a padded byte
    matrix + one scatter-add): the per-surface python loop version was
    the linking stage's hotspot at scale.
    """
    enc = [("  " + (s or "") + "  ").encode("utf-8", "ignore") for s in surfs]
    n = len(enc)
    if n == 0:
        return np.zeros((0, dim), dtype=np.float32)
    lens = np.fromiter((len(b) for b in enc), np.int64, n)
    width = max(int(lens.max()), 3)
    buf = np.zeros((n, width), dtype=np.uint32)
    for i, b in enumerate(enc):
        buf[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
    h = (buf[:, :-2] * 961 + buf[:, 1:-1] * 31 + buf[:, 2:]) % dim
    valid = np.arange(width - 2)[None, :] < (lens - 2)[:, None]
    out = np.zeros((n, dim), dtype=np.float32)
    rows = np.repeat(np.arange(n), width - 2)
    flat = valid.ravel()
    np.add.at(out, (rows[flat], h.ravel()[flat]), 1.0)
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return out / norms


def _ngram_vec(text: str, dim: int) -> np.ndarray:
    return _ngram_matrix([text], dim)[0]


def _raw_grams_udf():
    """Arrow-batched pandas UDF: a surface's RAW char-3gram multiset as
    24-bit byte codes (b0<<16 | b1<<8 | b2) over the same '  s  '
    padding _ngram_matrix uses.  Raw codes key CANDIDATE generation on
    a ~2^24 domain (a gram only matches surfaces that actually contain
    it); the 2048-bucket hash the broadcast matrix scatter-adds is
    derived from the code relationally (_hash_of_raw), so SCORING stays
    in the identical tf space."""
    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def raw_grams(surfs: pd.Series) -> pd.Series:
        from phonlp_spark.kernel.runtime import tune_worker_runtime
        tune_worker_runtime()
        out = []
        for s0 in surfs:
            b = ("  " + (s0 or "") + "  ").encode("utf-8", "ignore")
            arr = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
            rg = (arr[:-2] << 16) | (arr[1:-1] << 8) | arr[2:]
            out.append(rg.astype("int32").tolist())
        return pd.Series(out)
    return raw_grams


def _hash_of_raw(rg):
    """The broadcast path's hashed bucket, derived JVM-side from a raw
    code: (b0*961 + b1*31 + b2) % SIM_DIM — bit-identical to
    _ngram_matrix's polynomial over the same bytes."""
    b0, b1, b2 = (F.shiftright(rg, 16).bitwiseAND(F.lit(255)),
                  F.shiftright(rg, 8).bitwiseAND(F.lit(255)),
                  rg.bitwiseAND(F.lit(255)))
    return (b0 * 961 + b1 * 31 + b2) % SIM_DIM


def _sparse_grams(df: DataFrame, key: str):
    """Per-surface gram tables for a one-column DataFrame of distinct
    surfaces: (key, _rg, _c) RAW-gram counts, (key, _g, _tf)
    hashed-gram term frequencies (the broadcast matrix's tf vector),
    and (key, _norm) hashed-space L2 norms.  One UDF pass; everything
    downstream of the explode is JVM-side; all three shuffle on `key`
    once."""
    raw_grams = _raw_grams_udf()
    g = df.select(F.col(key), F.explode(raw_grams(F.col(key))).alias("_rg"))
    raw_tf = g.groupBy(key, "_rg").agg(
        F.count(F.lit(1)).cast("double").alias("_c"))
    tf = (raw_tf.withColumn("_g", _hash_of_raw(F.col("_rg")))
          .groupBy(key, "_g").agg(F.sum("_c").alias("_tf")))
    norm = tf.groupBy(key).agg(
        F.sqrt(F.sum(F.col("_tf") * F.col("_tf"))).alias("_norm"))
    return raw_tf, tf, norm


def _candidate_pairs(m_raw: DataFrame, a_raw: DataFrame,
                     max_gram_freq: int = 100_000,
                     threshold: float = SIM_THRESHOLD) -> DataFrame:
    """(nsurf, _asurf) candidate pairs via a raw-gram inverted index
    with an L2-mass prefix filter — the set-similarity-join layout
    (VERDICT r5 #2): selectivity comes from the ~2^24 raw domain
    (the 2048-bucket hash made every bucket's posting list ~A/2048
    aliases, so candidates approached M*A cross-product scale exactly
    in the >cap regime this path exists for).

    Prefix filter (miss side, the standard lossless cosine bound):
    order each miss's grams most-common-first by alias-side document
    frequency and DROP a prefix S while its L2 count mass obeys
    sum_{g in S} c_g^2 < threshold^2 * sum_g c_g^2.  For any alias y
    sharing no KEPT gram with x, every shared gram is in S, so by
    Cauchy-Schwarz  dot(x,y) <= ||x_S||*||y|| < threshold*||x||*||y||
    — the pair cannot clear the link threshold and pruning it is
    lossless.  Up to (1 - t^2) = 64% of a surface's gram mass prunes
    away, so universal affixes ('công ty ', ' việt nam') drop out of
    candidate generation per surface without any global stop list.
    (The bound is exact for the raw-gram cosine; the 2048-bucket
    hashed cosine the scorer computes can exceed it only via
    cross-gram hash collisions — reaching 0.6 from 1/2048-probability
    collisions needs several simultaneous hits within one pair, and
    the broadcast path would need the same accident to link; the
    randomized distributed-vs-broadcast parity test pins the
    equivalence empirically.)

    Grams carried by more than ``max_gram_freq`` aliases are dropped
    from the index unconditionally (hot-gram safety valve); their
    squared mass DEBITS the prefix budget, so the lossless bound
    covers the union of both drop sets: total dropped mass stays
    < t^2 ||x||^2 whenever the hot mass alone does.  A surface whose
    hot grams already exceed the budget (a universal affix dominating
    a short surface) gets NO further pruning — every remaining
    alias-shared gram is kept so recall degrades only through the
    valve itself, never through valve + budget compounding; the valve
    loss needs >max_gram_freq-alias grams to carry over t^2 = 36% of
    the surface's squared gram mass AND the pair to share nothing
    else, and is candidate-only (scoring never drops grams, so both
    paths stay threshold-consistent on every generated pair).
    """
    a_df = a_raw.groupBy("_rg").agg(F.count(F.lit(1)).alias("_df"))
    a_idx = (a_raw.join(a_df.filter(F.col("_df") > max_gram_freq)
                        .select("_rg"), "_rg", "left_anti")
             .select("_asurf", "_rg"))
    # alias-absent grams (_df null) shave no candidate and carry no
    # shared mass — excluded from candidacy, the budget and the debit
    mg = m_raw.join(a_df, "_rg", "inner")
    hot2 = (mg.filter(F.col("_df") > max_gram_freq)
            .groupBy("nsurf")
            .agg(F.sum(F.col("_c") * F.col("_c")).alias("_hot2")))
    from pyspark.sql.window import Window
    w = (Window.partitionBy("nsurf")
         .orderBy(F.col("_df").desc(), F.col("_rg").desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    norm2_raw = (m_raw.groupBy("nsurf")
                 .agg(F.sum(F.col("_c") * F.col("_c")).alias("_nraw2")))
    kept = (mg.filter(F.col("_df") <= max_gram_freq)
            .join(norm2_raw, "nsurf")
            .join(hot2, "nsurf", "left")
            .withColumn("_cum2", F.sum(F.col("_c") * F.col("_c")).over(w))
            .filter(F.col("_cum2")
                    >= threshold * threshold * F.col("_nraw2")
                    - F.coalesce(F.col("_hot2"), F.lit(0.0)))
            .select("nsurf", "_rg"))
    return (kept.join(a_idx, "_rg")
            .select("nsurf", "_asurf").distinct())


def _score_misses_distributed(misses: DataFrame, alias_norm: DataFrame,
                              max_gram_freq: int = 100_000) -> DataFrame:
    """Stage 2 without the driver: (nsurf) misses -> (nsurf, sim_id)
    for alias dictionaries too large to collect+broadcast.  Two-phase
    set-similarity join:

    1. CANDIDATES (_candidate_pairs): raw 24-bit gram inverted index +
       L2-mass prefix filter — candidate rows scale with true gram
       overlap, never with |misses| x |aliases| / 2048 (the r5 plan's
       failure at its own design point).
    2. SCORING: on surviving pairs only, the exact 2048-dim hashed-tf
       cosine — the same hashes, tf vectors and FULL norms the
       broadcast matrix path computes (no gram is ever dropped from a
       dot product or a norm), so the two paths agree on every scored
       pair (floating-point summation order aside).

    Tie rule: equal cosines resolve to the smallest entity_id — the
    same rule the broadcast path applies (alias matrix sorted by
    entity_id, first argmax).
    """
    a_raw, a_tf, a_norm = _sparse_grams(
        alias_norm.select(F.col("nsurf").alias("_asurf")), "_asurf")
    m_raw, m_tf, m_norm = _sparse_grams(misses.select("nsurf"), "nsurf")
    cand = _candidate_pairs(m_raw, a_raw, max_gram_freq)

    num = (cand.join(m_tf, "nsurf")
           .join(a_tf.withColumnRenamed("_tf", "_atf"), ["_asurf", "_g"])
           .groupBy("nsurf", "_asurf")
           .agg(F.sum(F.col("_tf") * F.col("_atf")).alias("_dot")))
    scored = (num
              .join(m_norm, "nsurf")
              .join(a_norm.withColumnRenamed("_norm", "_anorm"), "_asurf")
              .join(alias_norm.withColumnRenamed("nsurf", "_asurf"), "_asurf")
              .withColumn("_cos", F.col("_dot")
                          / (F.col("_norm") * F.col("_anorm"))))
    from pyspark.sql.window import Window
    w = Window.partitionBy("nsurf").orderBy(
        F.col("_cos").desc(), F.col("entity_id").asc())
    top1 = (scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("nsurf",
                    F.when(F.col("_cos") >= SIM_THRESHOLD,
                           F.col("entity_id")).alias("sim_id")))
    # a miss with zero candidate pairs (no alias-shared gram, or only
    # hot-dropped grams) has no rows in top1 — re-attach it with a
    # NULL sim_id so the caller mints a new id, exactly as the
    # broadcast path does for below-threshold misses
    return misses.join(top1, "nsurf", "left").select("nsurf", "sim_id")


def link_surfaces(surfaces: DataFrame, alias_dict: DataFrame,
                  max_aliases: int | None = None,
                  strategy: str = "auto") -> DataFrame:
    """(nsurf) distinct normalized surfaces -> (nsurf, entity_id).

    Stage 1: exact join on the normalized surface (broadcast-hinted
    only when the inventory is known to fit the cap).
    Stage 2 (misses only): cosine top-1 against the alias char-3gram
    inventory —
      * ``broadcast`` (inventory <= max_aliases): the [A, SIM_DIM]
        matrix is collected once and broadcast; scoring is a dense
        matmul in a scalar pandas UDF;
      * ``distributed`` (bigger inventories, or forced): an
        inverted-index gram join (_score_misses_distributed) — the
        same hashes, the same tf vectors, the same threshold, so both
        paths agree on the mapping (floating-point summation order
        aside); nothing alias-sized ever touches the driver.
    ``strategy``: "auto" picks by inventory size; "broadcast" /
    "distributed" force a path (broadcast still enforces the cap).
    Stage 3: residual -> content-derived new id 'X'+md5(surface)[:12].

    Linking cost is proportional to DISTINCT surfaces; callers join the
    result back onto mention/triple streams.
    """
    spark = surfaces.sparkSession
    cap = MAX_ALIASES if max_aliases is None else max_aliases
    alias_norm = (
        alias_dict.select(norm_surface(F.col("alias")).alias("nsurf"), "entity_id")
        .groupBy("nsurf").agg(F.min("entity_id").alias("entity_id"))
    )

    if strategy == "distributed":
        alias_rows = None
    else:
        # one bounded collect both sizes the inventory and feeds the
        # broadcast; the limit caps the driver transfer even when the
        # inventory is over the cap
        alias_rows = alias_norm.limit(cap + 1).collect()
        if len(alias_rows) > cap:
            if strategy == "broadcast":
                raise ValueError(
                    f"alias inventory exceeds the {cap}-surface cap for the "
                    f"forced collect+broadcast linking path "
                    f"(~{cap * SIM_DIM * 4 / 2**30:.1f} GiB n-gram matrix on "
                    "the driver and every executor). Raise "
                    "PHONLP_SPARK_MAX_ALIASES only with memory to match, or "
                    "use strategy='distributed'/'auto'.")
            alias_rows = None  # auto: fall through to the gram join

    if alias_rows is None:
        # inventory unbounded: no broadcast hint anywhere — AQE picks
        # the stage-1 join strategy from runtime sizes
        exact = surfaces.join(alias_norm, "nsurf", "left")
        misses = exact.filter(F.col("entity_id").isNull()).select("nsurf")
        scored = _score_misses_distributed(misses, alias_norm)
    else:
        exact = surfaces.join(F.broadcast(alias_norm), "nsurf", "left")
        misses = exact.filter(F.col("entity_id").isNull()).select("nsurf")
        # deterministic tie rule shared with the distributed path:
        # order by entity_id so first-argmax == smallest id on ties
        alias_rows = sorted(alias_rows, key=lambda r: r["entity_id"])
        alias_surfs = [r["nsurf"] for r in alias_rows]
        alias_ids = [r["entity_id"] for r in alias_rows]
        if alias_surfs:
            amat = _ngram_matrix(alias_surfs, SIM_DIM)  # [A, D]
            bc = spark.sparkContext.broadcast((amat, alias_ids))

            @F.pandas_udf(T.StructType([
                T.StructField("sim_id", T.StringType()),
                T.StructField("sim_score", T.FloatType()),
            ]))
            def best_alias(surfs: pd.Series) -> pd.DataFrame:
                from phonlp_spark.kernel.runtime import tune_worker_runtime
                tune_worker_runtime()  # allocator fix (see kernel/runtime.py)
                mat, ids = bc.value
                qs = _ngram_matrix(list(surfs), SIM_DIM)
                scores = qs @ mat.T  # [B, A] cosine (rows L2-normalized)
                best = scores.argmax(axis=1)
                return pd.DataFrame({
                    "sim_id": [ids[i] for i in best],
                    "sim_score": scores[np.arange(len(best)), best]
                    .astype(np.float32),
                })

            scored = misses.withColumn("s", best_alias(F.col("nsurf"))).select(
                "nsurf",
                F.when(F.col("s.sim_score") >= SIM_THRESHOLD,
                       F.col("s.sim_id")).alias("sim_id"),
            )
        else:
            scored = misses.withColumn("sim_id", F.lit(None).cast("string"))

    new_id = F.concat(F.lit("X"), F.substring(F.md5(F.col("nsurf")), 1, 12))
    resolved_misses = scored.select(
        "nsurf", F.coalesce(F.col("sim_id"), new_id).alias("miss_entity_id")
    )

    # no forced broadcast: misses are a subset of DISTINCT surfaces,
    # which is unbounded at corpus scale — AQE broadcasts when small
    return (
        exact.join(resolved_misses, "nsurf", "left")
        .select("nsurf",
                F.coalesce("entity_id", "miss_entity_id").alias("entity_id"))
    )


def link_mentions(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """mentions (doc_id, sent_id, start, end, type, text) -> + entity_id.

    Thin wrapper: link the DISTINCT normalized surfaces, broadcast the
    surface->entity map back onto the mention stream.
    """
    m = mentions.withColumn("nsurf", norm_surface(F.col("text")))
    surf_map = link_surfaces(m.select("nsurf").distinct(), alias_dict)
    # surf_map is keyed by DISTINCT surfaces (unbounded at scale):
    # leave the join strategy to AQE rather than forcing a broadcast
    return m.join(surf_map, "nsurf", "left").drop("nsurf")


def same_as_edges(alias_dict: DataFrame) -> DataFrame:
    """Undirected same-as edges for canonicalization: dictionary
    entities sharing a normalized alias surface.  (Same-surface ties
    between mentions need no edges: linking is deterministic per
    surface, so identical surfaces always share an entity id already.)
    Returns (src, dst) with src < dst, distinct.
    """
    a = alias_dict.select(norm_surface(F.col("alias")).alias("nsurf"),
                          F.col("entity_id"))
    return (
        a.alias("l").join(a.alias("r"), "nsurf")
        .filter(F.col("l.entity_id") < F.col("r.entity_id"))
        .select(F.col("l.entity_id").alias("src"), F.col("r.entity_id").alias("dst"))
        .distinct()
    )
