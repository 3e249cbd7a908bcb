"""Graph materialization, per-partition manifests, and resume.

Output layout under `out_dir` (an Iceberg-shaped Parquet catalog: data
files partitioned by content-derived bucket + a manifest table that
doubles as snapshot metadata and resume checkpoint — SURVEY.md intro):

    out_dir/annotations/bucket=K/*.parquet
    out_dir/mentions/bucket=K/*.parquet
    out_dir/triples/bucket=K/*.parquet
    out_dir/edges/bucket=K/*.parquet
    out_dir/nodes/*.parquet              (global, rebuilt per run)
    out_dir/manifest/*.parquet           (append-only)

Buckets are `pmod(xxhash64(doc_id), n_buckets)` — content-derived, so
a resumed run (or a differently-sized cluster) maps every document to
the same bucket.  Resume = anti-join of buckets against manifest rows
whose status='done' and whose input fingerprint matches; completed
buckets are never recomputed, interrupted buckets are overwritten
idempotently via dynamic partition overwrite.
"""

from __future__ import annotations

import os
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from phonlp_spark.pipeline.annotate import (
    annotate_sentences_df,
    annotations_long,
    mentions_df,
    triples_df,
)
from phonlp_spark.pipeline.cc import canonical_map
from phonlp_spark.pipeline.ingest import split_sentences
from phonlp_spark.pipeline.linking import (
    link_surfaces,
    norm_surface,
    same_as_edges,
)

MANIFEST_COLS = ("run_id", "bucket", "status", "docs", "sentences", "triples",
                 "wall_ms", "attempt", "input_fingerprint", "n_buckets")


def input_fingerprint(documents: DataFrame) -> str:
    row = documents.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("doc_id")), F.lit(0)).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']:x}"


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame | None:
    path = os.path.join(out_dir, "manifest")
    try:
        return spark.read.parquet(path)
    except Exception:
        return None


def done_buckets(spark: SparkSession, out_dir: str, fingerprint: str,
                 n_buckets: int) -> tuple[list[int], dict[int, int]]:
    """(bucket ids safe to skip, max recorded attempt per bucket), from
    ONE pass over the manifest rows of this input AND this bucketing.

    A bucket id means a different document set under a different
    n_buckets, so manifests written with another layout never satisfy
    resume (they'd silently leave documents unprocessed) nor count
    toward a bucket's attempts."""
    mf = read_manifest(spark, out_dir)
    if mf is None or "n_buckets" not in mf.columns:
        return [], {}
    rows = (
        mf.filter((F.col("input_fingerprint") == fingerprint)
                  & (F.col("n_buckets") == n_buckets))
        .groupBy("bucket")
        .agg(F.bool_or(F.col("status") == "done").alias("done"),
             F.max("attempt").alias("attempt"))
        .collect()
    )
    return ([int(r["bucket"]) for r in rows if r["done"]],
            {int(r["bucket"]): int(r["attempt"]) for r in rows})


def canonical_entities(alias_dict: DataFrame) -> DataFrame:
    """(entity_id, canonical_id, dict_canonical): one row per alias-dict
    entity — its component under the dictionary's same-as edges (the
    min entity id; singletons map to themselves) and the component's
    display name (min canonical over its members).

    Depends ONLY on the alias dictionary, so one table serves every
    consumer: the surface map, the node table, and a resumed run's
    rebuild of nodes from disk, which never re-sees every mention
    surface.  Ids outside the dictionary (minted 'X' ids) have no row
    here and fall back to themselves at the join."""
    ents = alias_dict.groupBy("entity_id").agg(F.min("canonical").alias("name"))
    comp = canonical_map(same_as_edges(alias_dict),
                         ents.select(F.col("entity_id").alias("node")))
    return (
        ents.join(comp.select(F.col("node").alias("entity_id"),
                              F.col("component").alias("canonical_id")),
                  "entity_id")
        .select("entity_id", "canonical_id",
                F.min("name").over(Window.partitionBy("canonical_id"))
                .alias("dict_canonical"))
    )


def nodes_from_linked(linked_mentions: DataFrame, canon: DataFrame) -> DataFrame:
    """Aggregate the canonical-entity node table from linked mentions.

    canon (canonical_entities) is bounded by the alias dictionary
    (small by contract) -> broadcast; a component id is its min member,
    so the id's own row carries the component's name.  The mention
    aggregate is a plain hash-agg on canonical_id.
    """
    names = canon.select(F.col("entity_id").alias("cid"), "dict_canonical")
    return (
        linked_mentions.groupBy("canonical_id")
        .agg(F.count(F.lit(1)).alias("mention_count"),
             F.min("text").alias("top_text"),
             F.mode("type").alias("type"))
        .join(F.broadcast(names),
              F.col("canonical_id") == F.col("cid"), "left")
        .select(
            F.col("canonical_id").alias("entity_id"),
            F.coalesce("dict_canonical", "top_text").alias("canonical"),
            "type", "mention_count")
    )


@dataclass
class Graph:
    """build_graph's tables, all lazy, plus the caches behind them."""
    triples: DataFrame   # (doc_id, sent_id, subj, pred, obj, ...)
    linked: DataFrame    # mentions + entity_id, canonical_id
    nodes: DataFrame     # (entity_id, canonical, type, mention_count)
    edges: DataFrame     # (subj_id, pred, obj_id, doc_id, sent_id)
    canon: DataFrame     # canonical_entities(alias_dict)
    caches: list[DataFrame]

    def release(self) -> None:
        """Unpersist every cache build_graph created."""
        for df in self.caches:
            df.unpersist()


def build_graph(annotated: DataFrame,
                alias_dict: DataFrame | Callable[[DataFrame], DataFrame],
                linking_strategy: str = "auto") -> Graph:
    """Annotated sentences -> mentions/triples -> linking ->
    canonicalization -> graph tables (no IO).

    ``annotated`` needs doc_id, sent_id, mentions and triples.
    ``alias_dict`` is the alias dictionary, or a function from the
    mention stream to one (a dictionary derived from the data).

    Everything expensive happens once at SURFACE grain (distinct
    normalized mention texts): link, canonicalize, resolve — the
    surface->canonical map then joins back onto the mention and triple
    streams.  Those joins carry NO forced broadcast hint: distinct
    surfaces are unbounded at corpus scale (hundreds of millions of
    rows at 100 TB would OOM a forced broadcast), so AQE picks
    broadcast when the map is actually small and degrades to a shuffle
    join when it is not.  Only alias-dict-bounded sides are hinted.
    The dictionary is canonicalized once (canonical_entities).

    Caches (lazy; they fill on the first action): the (doc_id,
    sent_id, mentions, triples) projection of ``annotated``, which
    every stream explodes from, so the kernel runs once however many
    consumers read it; and the surface map, so linking runs once.
    The caller owns them: ``Graph.release()`` unpersists both once the
    caller's last action on the tables has run.  run_kg releases them
    before it returns; the driver queries of ``__spark_entry__`` keep
    them, because the driver consumes their lazy tables afterwards.
    """
    mt = annotated.select("doc_id", "sent_id", "mentions", "triples").cache()
    mentions, triples = mentions_df(mt), triples_df(mt)
    if callable(alias_dict):
        alias_dict = alias_dict(mentions)
    canon = canonical_entities(alias_dict)

    m = mentions.withColumn("nsurf", norm_surface(F.col("text")))
    surf_map = (
        link_surfaces(m.select("nsurf").distinct(), alias_dict,
                      strategy=linking_strategy)
        .join(F.broadcast(canon.select("entity_id", "canonical_id")),
              "entity_id", "left")
        .select("nsurf", "entity_id",
                F.coalesce("canonical_id", "entity_id").alias("canonical_id"))
        .cache()
    )
    linked = m.join(surf_map, "nsurf", "left").drop("nsurf")

    edges = (
        triples
        .withColumn("snsurf", norm_surface(F.col("subj")))
        .withColumn("onsurf", norm_surface(F.col("obj")))
        .join(surf_map.select(F.col("nsurf").alias("snsurf"),
                              F.col("canonical_id").alias("subj_id")),
              "snsurf", "inner")
        .join(surf_map.select(F.col("nsurf").alias("onsurf"),
                              F.col("canonical_id").alias("obj_id")),
              "onsurf", "inner")
        .select("subj_id", "pred", "obj_id", "doc_id", "sent_id")
    )

    return Graph(triples, linked, nodes_from_linked(linked, canon), edges,
                 canon, [mt, surf_map])


def run_kg(
    spark: SparkSession,
    documents: DataFrame,
    alias_dict: DataFrame,
    out_dir: str,
    n_buckets: int = 32,
    salt_partitions: int | None = None,
    resume: bool = True,
    dedup: bool = False,
    linking_strategy: str = "auto",
) -> dict:
    """Full KG construction with per-bucket lineage; returns run stats.

    All remaining buckets are processed in ONE Spark job (a per-bucket
    driver loop would serialize the cluster); the manifest rows are
    appended only after the job's writes commit, so a crash anywhere
    leaves previously-done buckets intact and the interrupted buckets
    unrecorded -> recomputed and overwritten on the next run.

    ``dedup``: exact-dedup the documents BEFORE the annotation kernel
    (the standard production layout: duplicates never pay kernel cost).
    Content key = digest of the full span sequence; the kept
    representative is min(doc_id) per digest — the same keep-rule as
    ops.dedup.exact_dedup — so output equals a run over the unique
    documents.  One hash-agg shuffle on the digest; scale-safe.
    """
    t0 = time.time()
    run_id = uuid.uuid4().hex[:12]
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    if dedup:
        d = documents.withColumn("_digest", F.md5(F.to_json("spans")))
        keep = d.groupBy("_digest").agg(F.min("doc_id").alias("doc_id"))
        documents = d.join(keep, ["_digest", "doc_id"], "left_semi") \
            .drop("_digest")

    docs = documents.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int"))
    fp = input_fingerprint(documents)
    # per-bucket attempt lineage: a recomputed bucket's attempt is
    # 1 + its max recorded attempt for this input+layout (crashed
    # attempts append no row, so the counter tracks RECORDED runs)
    done, prior_attempts = done_buckets(spark, out_dir, fp, n_buckets)
    skip = done if resume else []
    todo = docs.filter(~F.col("bucket").isin(skip)) if skip else docs

    if todo.isEmpty():
        return {"run_id": run_id, "processed_buckets": [], "skipped_buckets": skip,
                "docs": 0, "sentences": 0, "triples": 0, "wall_ms": 0}

    sentences = split_sentences(todo.select("doc_id", "spans"))
    annotated = annotate_sentences_df(sentences, salt_partitions).cache()
    graph = build_graph(annotated, alias_dict,
                        linking_strategy=linking_strategy)

    # bucket is a pure function of doc_id — recompute it as an
    # expression on every output stream instead of joining a
    # doc->bucket map (which would add one shuffle per output table)
    def with_bucket(df):
        return df.withColumn(
            "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int"))

    try:
        # writes (bucket-partitioned; dynamic overwrite = idempotent re-run)
        for table, df in (("annotations", annotations_long(annotated)),
                          ("mentions", graph.linked),
                          ("triples", graph.triples),
                          ("edges", graph.edges)):
            with_bucket(df).write.mode("overwrite").partitionBy("bucket") \
                .parquet(f"{out_dir}/{table}")
        # nodes is GLOBAL and non-partitioned: on a resumed run the
        # in-memory graph covers only recomputed buckets, so rebuild it
        # from the full on-disk mentions table (all buckets) after the
        # per-bucket writes commit — otherwise a partial resume would
        # silently replace the table with a subset-derived one.
        nodes_from_linked(spark.read.parquet(f"{out_dir}/mentions"),
                          graph.canon) \
            .write.mode("overwrite").parquet(f"{out_dir}/nodes")

        # per-bucket lineage metrics
        stats = (
            todo.groupBy("bucket").agg(F.count(F.lit(1)).alias("docs"))
            .join(with_bucket(annotated.select("doc_id",
                                               F.size("triples").alias("nt")))
                  .groupBy("bucket").agg(
                      F.count(F.lit(1)).alias("sentences"),
                      F.sum("nt").alias("triples")), "bucket", "left")
            .fillna(0, ["sentences", "triples"])
            .collect()
        )
        wall_ms = int((time.time() - t0) * 1000)
        manifest_rows = [
            (run_id, int(r["bucket"]), "done", int(r["docs"]),
             int(r["sentences"]), int(r["triples"]), wall_ms,
             prior_attempts.get(int(r["bucket"]), 0) + 1, fp, n_buckets)
            for r in stats
        ]
        spark.createDataFrame(manifest_rows, ", ".join(
            f"{c} {'string' if c in ('run_id', 'status', 'input_fingerprint') else 'long'}"
            for c in MANIFEST_COLS
        )).write.mode("append").parquet(f"{out_dir}/manifest")
    finally:
        # release executor storage memory for later jobs
        annotated.unpersist()
        graph.release()
    totals = {
        "docs": sum(r["docs"] for r in stats),
        "sentences": sum(r["sentences"] or 0 for r in stats),
        "triples": sum(r["triples"] or 0 for r in stats),
    }
    return {
        "run_id": run_id,
        "processed_buckets": sorted(int(r["bucket"]) for r in stats),
        "skipped_buckets": sorted(skip),
        "wall_ms": wall_ms,
        **totals,
    }
