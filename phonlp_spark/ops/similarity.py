"""Similarity search and near-dup detection over embedding columns
(array<float>), on one candidate skeleton:

    assign -> guarded bucket join -> rerank (top-k) or verify (threshold)

- Assigners are per-row projections (no shuffle) returning (vec_id,
  group keys...): hyperplane LSH with n_tables (n_tables=1 is plain
  LSH; multiprobe is its query-side Hamming-1 expansion), seeded IVF
  and trained IVF with n_probe.  Hyperplanes and centroids are plan
  literals, so any ANSI SQL engine runs the identical arithmetic.
- Candidates come from a bucket join, never the cross product (the
  100-TB shape): probe_pairs joins the corpus against the broadcast
  query probes; bucket_pairs self-joins on the group keys with a < b
  (also MinHash and SimHash banding in ops/dedup.py) after
  drop_hot_buckets.  A pair can repeat only when a vector sits in
  several groups (n_tables > 1, n_probe > 1 on both sides), so only
  then do operators pay the distinct's extra shuffle.
- rerank_topk keeps the k best exact cosines per query (ties by
  neighbor id; candidates=None is the exhaustive cosine_topk);
  verify_pairs keeps pairs with round(cos*1000) >= min_cos_x1000.
  Both engines compute the identical IEEE double before the round, and
  norms are projected once per vector — the same expressions, so the
  cosine is bit-identical to the per-pair form.

One table's recall is bounded by its single bucket (2-12% on the
ann_recall gate); OR-amplified tables, multiprobe and trained cells are
the ladder quality_recall measures.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from phonlp_spark.ops.fanout import fan_out

LSH_PLANES = 4
EMB_DIM = 64


def dot(a: Column, b: Column) -> Column:
    """Double-precision dot product of two array columns, JVM-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))


def seeded_hyperplanes(seed: int = 7, planes: int = LSH_PLANES,
                       dim: int = EMB_DIM) -> np.ndarray:
    return np.random.default_rng(seed).normal(size=(planes, dim))


def lsh_buckets(embeddings: DataFrame, seed: int = 7,
                id_col: str = "vec_id", vec_col: str = "embedding",
                planes: int = LSH_PLANES) -> DataFrame:
    """(vec_id, bucket): sign-bit bucket under seeded hyperplanes.
    `planes` scales the bucket count (2^planes) with corpus size."""
    hp = seeded_hyperplanes(seed, planes)
    bucket = F.lit(0)
    for p in range(hp.shape[0]):
        plane = F.array(*[F.lit(float(x)) for x in hp[p]])
        d = dot(F.col(vec_col), plane)
        bucket = bucket + F.when(d > 0, F.lit(1 << p)).otherwise(0)
    # fan_out: the planes x dim dot products per row are the whole cost
    # of every LSH-family operator; no-op on wide (real-scale) scans
    return fan_out(embeddings).select(F.col(id_col).alias("vec_id"),
                                      bucket.cast("int").alias("bucket"))


def lsh_buckets_multi(embeddings: DataFrame, n_tables: int = 4,
                      planes: int = LSH_PLANES, seed: int = 7,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """(vec_id, table_id, bucket): L independent hash tables; table t
    uses hyperplanes seeded seed+t (so table 0 is lsh_buckets).  A
    neighbor is a candidate if it collides in ANY table."""
    return reduce(DataFrame.unionAll, [
        lsh_buckets(embeddings, seed + t, id_col, vec_col, planes)
        .select("vec_id", F.lit(t).alias("table_id"), "bucket")
        for t in range(n_tables)])


def lsh_buckets_multiprobe(embeddings: DataFrame, n_tables: int = 4,
                           planes: int = LSH_PLANES, seed: int = 7,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """(vec_id, table_id, bucket): multi-table buckets EXPANDED to the
    full Hamming-1 neighborhood — each row also probes every bucket
    one sign-flip away (planes+1 rows per vector per table).

    A hyperplane code's nearest misses are overwhelmingly single-bit
    flips (the query sits close to one hyperplane), so probing the
    flip set recovers most of the recall OR-amplification alone leaves
    behind at (planes+1)x candidate cost on ONE side.  Callers expand
    the QUERY side only, so the corpus assignment stays n_tables rows
    per vector."""
    mb = lsh_buckets_multi(embeddings, n_tables, planes, seed,
                           id_col, vec_col)
    masks = F.array(*[F.lit(m) for m in [0] + [1 << p for p in range(planes)]])
    return (mb.select("vec_id", "table_id", "bucket",
                      F.explode(masks).alias("_m"))
            .select("vec_id", "table_id",
                    F.col("bucket").bitwiseXOR(F.col("_m")).alias("bucket")))


def seeded_centroids(seed: int = 11, n_cells: int = 8,
                     dim: int = EMB_DIM) -> np.ndarray:
    """IVF cell centroids as seeded draws (deterministic plan literals);
    trained_centroids_rows is the trained swap — same assign/search
    dataflow either way."""
    return np.random.default_rng(seed).normal(size=(n_cells, dim))


def _first_max(scores: Column) -> Column:
    """Index of the FIRST maximum score — the first-match rule ANSI
    engines implement for list_position, so oracles agree on ties."""
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def ivf_cells(embeddings: DataFrame, seed: int = 11, n_cells: int = 8,
              id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(vec_id, cell): nearest seeded centroid, pure per-row codegen
    (argmin ||v-c||^2 == argmax v.c - |c|^2/2)."""
    cents = seeded_centroids(seed, n_cells)
    scores = F.array(*[
        dot(F.col(vec_col), F.array(*[F.lit(float(x)) for x in c]))
        - F.lit(float(np.dot(c, c) / 2.0))
        for c in cents
    ])
    return embeddings.select(F.col(id_col).alias("vec_id"),
                             _first_max(scores).alias("cell"))


def quantized_vecs(embeddings: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """(vec_id, vq): embeddings on the x1000 integer grid.

    All k-means arithmetic below runs on these exact integers: sums and
    dot products are order-independent (no float-summation drift), so
    the fit is bit-identical across partitionings AND across engines —
    that's what lets a trained index be a hash-checked CORRECTNESS row.
    """
    vq = F.transform(F.col(vec_col),
                     lambda x: F.round(x.cast("double") * 1000).cast("long"))
    # fan_out (no-op on wide scans): every trained-IVF operator's
    # corpus-side scoring is a projection over these rows; the fit
    # itself is partitioning-invariant integer arithmetic, so the
    # round-robin exchange cannot change any result
    return fan_out(embeddings).select(F.col(id_col).alias("vec_id"),
                                      vq.alias("vq"))


def _scores_q(cents_rows, vq: Column) -> Column:
    """Array of 2*v.c - |c|^2 integer scores of ``vq`` against literal
    centroids [(cell, cq)] in cell order (index == cell; argmax ==
    argmin ||v-c||^2).  Values stay well under 2^53, so the double the
    oracle computes is the same exact integer as this long."""
    terms = []
    for _cell, cq in cents_rows:
        lit_c = F.array(*[F.lit(int(x)).cast("long") for x in cq])
        nrm = int(sum(x * x for x in cq))
        terms.append(F.lit(2).cast("long") * F.aggregate(
            F.zip_with(vq, lit_c, lambda x, y: x * y),
            F.lit(0).cast("long"), lambda a, v: a + v) - F.lit(nrm).cast("long"))
    return F.array(*terms)


def trained_centroids_rows(embeddings: DataFrame, n_cells: int = 8,
                           iters: int = 3, sample_mod: int = 2,
                           seed: int = 11, id_col: str = "vec_id",
                           vec_col: str = "embedding") -> list[tuple[int, list[int]]]:
    """[(cell, cq)] in cell order: Lloyd's k-means on the x1000 integer
    grid, in-engine and deterministic.

    - sample = rows with vec_id % sample_mod == 0 (a fixed fraction; at
      100 TB the fit never touches the full corpus);
    - init = the seeded centroids quantized to the same grid;
    - each of the `iters` rounds assigns the sample with the literal
      score array the trained assigners serve with (argmax on exact
      integers, smallest cell on ties), then takes per-dimension
      integer sums with floor(sum/count) means — floor() is the one
      division both Spark and ANSI engines round identically; the
      n_cells x dim means are collected as the next round's literals;
    - cells that lose all members keep their previous centroid, so the
      output always has exactly n_cells rows.

    Scale shape: the sample shuffles once per round on (cell, dim) —
    n_cells*dim tiny groups.  Production tunes sample_mod so the sample
    fits one stage.
    """
    samp = quantized_vecs(embeddings, id_col, vec_col) \
        .filter(F.col("vec_id") % sample_mod == 0)
    rows = [(c, [int(round(x * 1000)) for x in cent])
            for c, cent in enumerate(seeded_centroids(seed, n_cells))]
    for _ in range(iters):
        upd = (samp.select(_first_max(_scores_q(rows, F.col("vq"))).alias("cell"),
                           F.posexplode("vq").alias("i", "v"))
               .groupBy("cell", "i")
               .agg(F.floor(F.sum("v").cast("double") / F.count("*"))
                    .cast("long").alias("cv")))
        new = dict(upd.groupBy("cell").agg(F.transform(
            F.array_sort(F.collect_list(F.struct("i", "cv"))),
            lambda s: s.cv)).collect())
        rows = [(c, list(new.get(c, cq))) for c, cq in rows]
    return rows


def _trained_scores(embeddings: DataFrame, cents_rows, n_cells: int,
                    iters: int, sample_mod: int, seed: int, id_col: str,
                    vec_col: str) -> tuple[DataFrame, Column]:
    """The trained-IVF prelude: (vq frame, _scores_q array).  Pure
    per-row codegen, no join, no shuffle over the corpus.
    ``cents_rows`` is a precomputed trained_centroids_rows(...) result;
    callers composing several trained-IVF operators over one corpus
    pass it to fit k-means ONCE instead of once per operator."""
    rows = cents_rows if cents_rows is not None else trained_centroids_rows(
        embeddings, n_cells, iters, sample_mod, seed, id_col, vec_col)
    vq = quantized_vecs(embeddings, id_col, vec_col)
    return vq, _scores_q(rows, F.col("vq"))


def ivf_cells_trained(embeddings: DataFrame, n_cells: int = 8,
                      iters: int = 3, sample_mod: int = 2, seed: int = 11,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      cents_rows: list[tuple[int, list[int]]] | None = None
                      ) -> DataFrame:
    """(vec_id, cell) under k-means-trained centroids: the seeded
    ivf_cells plan shape, zero shuffle over the corpus (only the
    sample-sized fit shuffles).  First-max tie rule == smallest cell,
    matching the fit's ORDER BY score DESC, cell."""
    vq, scores = _trained_scores(embeddings, cents_rows, n_cells, iters,
                                 sample_mod, seed, id_col, vec_col)
    return vq.select("vec_id", _first_max(scores).alias("cell"))


def ivf_probed_cells_trained(embeddings: DataFrame, n_probe: int = 2,
                             n_cells: int = 8, iters: int = 3,
                             sample_mod: int = 2, seed: int = 11,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             cents_rows: list[tuple[int, list[int]]] | None = None
                             ) -> DataFrame:
    """(vec_id, cell): each vector assigned to its ``n_probe`` nearest
    trained cells (n_probe=1 is ivf_cells_trained exactly).  Still a
    per-row projection: an in-row array sort over n_cells integer
    scores (negated so ascending array_sort realizes score-desc with
    the smallest-cell tie rule); n_probe rows per vector."""
    vq, scores = _trained_scores(embeddings, cents_rows, n_cells, iters,
                                 sample_mod, seed, id_col, vec_col)
    ranked = F.array_sort(F.transform(
        scores, lambda sc, i: F.struct((-sc).alias("ns"),
                                       i.alias("cell"))))
    probes = F.slice(ranked, 1, n_probe)
    return (vq.select("vec_id", F.explode(probes).alias("p"))
            .select("vec_id", F.col("p.cell").cast("int").alias("cell")))


def drop_hot_buckets(assign: DataFrame, keys: list[str],
                     cap: int | None) -> DataFrame:
    """Hot-bucket guard for pair-generating bucket self-joins: drop
    bucket groups holding more than ``cap`` rows BEFORE the self-join.

    Dropped buckets trade recall for a hard bound of cap^2/2 pairs per
    bucket (the same failure mode the stop-shingle guard in
    ops/dedup.py jaccard_pairs covers for text); the recall gates
    measure the cost and the oracle SQL mirrors the cap.  The hot list
    is tiny by construction (at most |corpus|/cap rows) -> broadcast
    anti-join, one extra count aggregate.  ``cap=None`` disables it.
    """
    if cap is None:
        return assign
    # df: rows per group (document frequency when the groups are shingles)
    hot = (assign.groupBy(*keys).agg(F.count(F.lit(1)).alias("df"))
           .filter(F.col("df") > cap).select(*keys))
    return assign.join(F.broadcast(hot), keys, "left_anti")


def bucket_pairs(assign: DataFrame, keys: list[str],
                 max_bucket_size: int | None = None, dedupe: bool = True,
                 id_col: str = "vec_id", carry: tuple[str, ...] = ()
                 ) -> DataFrame:
    """(a, b, {c}_a, {c}_b for c in carry): every pair sharing a group
    of ``assign`` on ``keys``, a < b, after the hot-bucket guard.
    ``dedupe`` must be set when a row can sit in several groups."""
    g = drop_hot_buckets(assign, keys, max_bucket_size)
    left, right = F.col(f"l.{id_col}"), F.col(f"r.{id_col}")
    pairs = (g.alias("l").join(g.alias("r"), keys)
             .filter(left < right)
             .select(left.alias("a"), right.alias("b"),
                     *[F.col(f"{s}.{c}").alias(f"{c}_{t}")
                       for c in carry for s, t in (("l", "a"), ("r", "b"))]))
    return pairs.distinct() if dedupe else pairs


def probe_pairs(corpus: DataFrame, probes: DataFrame, keys: list[str],
                dedupe: bool) -> DataFrame:
    """(query_id, neighbor_id): corpus assignments (vec_id, keys...)
    colliding with a query's probe groups (vec_id, keys...).  The query
    side is tiny by contract -> broadcast."""
    q = probes.select(F.col("vec_id").alias("query_id"), *keys)
    pairs = (corpus.join(F.broadcast(q), keys)
             .filter(F.col("vec_id") != F.col("query_id"))
             .select("query_id", F.col("vec_id").alias("neighbor_id")))
    return pairs.distinct() if dedupe else pairs


def _side(df: DataFrame, key: str, p: str, id_col: str,
          vec_col: str) -> DataFrame:
    """(key, {p}vec, _{p}n): one side of a scored pair, norm once."""
    return df.select(F.col(id_col).alias(key), F.col(vec_col).alias(f"{p}vec"),
                     norm(F.col(vec_col)).alias(f"_{p}n"))


def _cos(a: str, b: str) -> Column:
    return (dot(F.col(f"{a}vec"), F.col(f"{b}vec"))
            / (F.col(f"_{a}n") * F.col(f"_{b}n")))


def rerank_topk(candidates: DataFrame | None, embeddings: DataFrame,
                query_ids: list[int], k: int = 5, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """(query_id, neighbor_id, rank): exact-cosine top-k over
    (query_id, neighbor_id) candidates, ties broken by neighbor id.

    ``candidates=None`` scores every corpus vector: the corpus streams
    once, fanned out to cluster width (|corpus| * |queries| dot
    products must not sit inside the scan stage's 1-2 tasks), against
    the broadcast query set."""
    q = _side(embeddings.filter(F.col(id_col).isin(query_ids)),
              "query_id", "q", id_col, vec_col)
    if candidates is None:
        scored = (_side(fan_out(embeddings), "neighbor_id", "c", id_col, vec_col)
                  .crossJoin(F.broadcast(q))
                  .filter(F.col("neighbor_id") != F.col("query_id")))
    else:
        scored = (candidates.join(F.broadcast(q), "query_id")
                  .join(_side(embeddings, "neighbor_id", "c", id_col, vec_col),
                        "neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("cos", _cos("q", "c"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank"))


def verify_pairs(candidates: DataFrame, embeddings: DataFrame,
                 min_cos_x1000: int, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """(a, b, cos_x1000): the (a, b) candidates whose exact cosine
    rounds to at least min_cos_x1000/1000."""
    return (
        candidates.join(_side(embeddings, "a", "a", id_col, vec_col), "a")
        .join(_side(embeddings, "b", "b", id_col, vec_col), "b")
        .withColumn("cos_x1000", F.round(_cos("a", "b") * 1000).cast("int"))
        .filter(F.col("cos_x1000") >= min_cos_x1000)
        .select("a", "b", "cos_x1000")
    )


def cosine_topk(embeddings: DataFrame, query_ids: list[int], k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors: the baseline every ANN variant's
    recall is measured against."""
    return rerank_topk(None, embeddings, query_ids, k, id_col, vec_col)


def ann_topk_lsh_multi(embeddings: DataFrame, query_ids: list[int],
                       k: int = 5, n_tables: int = 4,
                       planes: int = LSH_PLANES, seed: int = 7,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k over the union of L hash tables' same-bucket
    candidates; n_tables=1 is single-table LSH."""
    mb = lsh_buckets_multi(embeddings, n_tables, planes, seed,
                           id_col, vec_col)
    cand = probe_pairs(mb, mb.filter(F.col("vec_id").isin(query_ids)),
                       ["table_id", "bucket"], dedupe=n_tables > 1)
    return rerank_topk(cand, embeddings, query_ids, k, id_col, vec_col)


def ann_topk_lsh_multiprobe(embeddings: DataFrame, query_ids: list[int],
                            k: int = 5, n_tables: int = 4,
                            planes: int = LSH_PLANES, seed: int = 7,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Multiprobe multi-table LSH top-k: candidates collide with the
    query's own bucket OR any Hamming-1 perturbation of it, per table.
    |queries| * n_tables * (planes+1) probe rows against the
    unexpanded corpus assignment."""
    mb = lsh_buckets_multi(embeddings, n_tables, planes, seed,
                           id_col, vec_col)
    qb = lsh_buckets_multiprobe(
        embeddings.filter(F.col(id_col).isin(query_ids)),
        n_tables, planes, seed, id_col, vec_col)
    cand = probe_pairs(mb, qb, ["table_id", "bucket"], dedupe=n_tables > 1)
    return rerank_topk(cand, embeddings, query_ids, k, id_col, vec_col)


def ann_topk_ivf(embeddings: DataFrame, query_ids: list[int], k: int = 5,
                 seed: int = 11, n_cells: int = 8, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Seeded-IVF top-k over the query's own cell (n_probe=1): a query
    touches |corpus|/n_cells candidates, and n_cells grows with the
    corpus."""
    cells = ivf_cells(embeddings, seed, n_cells, id_col, vec_col)
    cand = probe_pairs(cells, cells.filter(F.col("vec_id").isin(query_ids)),
                       ["cell"], dedupe=False)
    return rerank_topk(cand, embeddings, query_ids, k, id_col, vec_col)


def ann_topk_ivf_trained(embeddings: DataFrame, query_ids: list[int],
                         k: int = 5, n_probe: int = 2, n_cells: int = 8,
                         iters: int = 3, sample_mod: int = 2, seed: int = 11,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         cents_rows: list[tuple[int, list[int]]] | None = None
                         ) -> DataFrame:
    """Trained-IVF top-k: each query probes its n_probe nearest cells
    (by the same integer score); the corpus sits in exactly its home
    cell, so probing never duplicates candidates.  Only the
    |queries| * n_cells probe ranking touches a window."""
    vq, scores = _trained_scores(embeddings, cents_rows, n_cells, iters,
                                 sample_mod, seed, id_col, vec_col)
    wq = Window.partitionBy("vec_id").orderBy(
        F.col("_score").desc(), F.col("cell").asc())
    probes = (vq.filter(F.col("vec_id").isin(query_ids))
              .select("vec_id", F.posexplode(scores).alias("cell", "_score"))
              .withColumn("_rn", F.row_number().over(wq))
              .filter(F.col("_rn") <= n_probe)
              .select("vec_id", F.col("cell").cast("int").alias("cell")))
    cand = probe_pairs(vq.select("vec_id", _first_max(scores).alias("cell")),
                       probes, ["cell"], dedupe=False)
    return rerank_topk(cand, embeddings, query_ids, k, id_col, vec_col)


def embedding_near_dups_multi(embeddings: DataFrame,
                              min_cos_x1000: int = 950,
                              n_tables: int = 4, planes: int = 6,
                              seed: int = 7, id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              max_bucket_size: int | None = 100_000
                              ) -> DataFrame:
    """Embedding-cosine near-dup pairs (a, b, cos_x1000) from the union
    of L hash tables' bucket collisions; n_tables=1 is single-table
    LSH.  Per-(table, bucket) groups over ``max_bucket_size`` are
    dropped, so a pair survives if ANY of its tables stays under the
    cap."""
    cand = bucket_pairs(
        lsh_buckets_multi(embeddings, n_tables, planes, seed, id_col, vec_col),
        ["table_id", "bucket"], max_bucket_size, dedupe=n_tables > 1)
    return verify_pairs(cand, embeddings, min_cos_x1000, id_col, vec_col)


def embedding_near_dups_ivf(embeddings: DataFrame,
                            min_cos_x1000: int = 950,
                            n_cells: int = 8, iters: int = 3,
                            sample_mod: int = 2, seed: int = 11,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            cents_rows: list[tuple[int, list[int]]] | None = None,
                            max_bucket_size: int | None = 100_000,
                            n_probe: int = 2) -> DataFrame:
    """Near-dup pairs with trained-IVF candidates: pairs sharing ANY of
    each vector's ``n_probe`` nearest k-means cells.

    n_probe=1 is the classic same-cell generator; its measured miss
    mode is true pairs STRADDLING a cell boundary — both members near
    the edge of adjacent cells.  Probing each vector's second-nearest
    cell makes such a pair collide in one of the probed cells at
    n_probe x candidate cost.  On clustered embeddings the cells track
    the actual neighborhoods, so candidate recall beats hyperplane
    bucketing (the quality_recall gate)."""
    cand = bucket_pairs(
        ivf_probed_cells_trained(embeddings, n_probe, n_cells, iters,
                                 sample_mod, seed, id_col, vec_col,
                                 cents_rows=cents_rows),
        ["cell"], max_bucket_size, dedupe=n_probe > 1)
    return verify_pairs(cand, embeddings, min_cos_x1000, id_col, vec_col)


def recall_row(hit_rows: DataFrame, total_rows: DataFrame,
               method: str) -> DataFrame:
    """One summary row (method, hits, total, recall_permille) counting
    ``hit_rows`` against ``total_rows`` — integer permille so the row
    hashes identically across engines (0 when total is 0)."""
    return (hit_rows.agg(F.count(F.lit(1)).alias("hits"))
            .crossJoin(total_rows.agg(F.count(F.lit(1)).alias("total")))
            .select(F.lit(method).alias("method"),
                    F.col("hits").cast("bigint").alias("hits"),
                    F.col("total").cast("bigint").alias("total"),
                    F.expr("CAST(hits * 1000 DIV greatest(total, 1) AS INT)")
                    .alias("recall_permille")))


def recall_vs_exact(exact: DataFrame, approx: DataFrame,
                    method: str) -> DataFrame:
    """recall_row of how much of the exact top-k the approximate
    method retrieved."""
    pairs = exact.select("query_id", "neighbor_id")
    hits = pairs.join(approx.select("query_id", "neighbor_id"),
                      ["query_id", "neighbor_id"], "left_semi")
    return recall_row(hits, pairs, method)
