"""Full KG run: outputs, manifest lineage, and mid-run resume."""

import shutil

import pytest
from pyspark.sql import functions as F

from phonlp_spark.pipeline.ingest import synth_documents, _seeded_names
from phonlp_spark.pipeline.linking import build_alias_dict
from phonlp_spark.pipeline.materialize import run_kg

from tests.spark_fixtures import spark  # noqa: F401


@pytest.fixture()
def out_dir(tmp_path):
    d = str(tmp_path / "kg")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _inputs(spark, n=80):  # noqa: F811
    docs = synth_documents(spark, n, seed=42)
    alias = build_alias_dict(spark, _seeded_names(40, 43))
    return docs, alias


def _table_sig(spark, path, cols):  # noqa: F811
    df = spark.read.parquet(path).select(*cols)
    return (df.count(),
            df.select(F.bit_xor(F.xxhash64(*cols)).alias("h")).collect()[0]["h"])


def test_full_run_writes_graph_and_manifest(spark, out_dir):  # noqa: F811
    docs, alias = _inputs(spark)
    stats = run_kg(spark, docs, alias, out_dir, n_buckets=8)
    assert stats["docs"] == 80
    assert stats["triples"] > 0
    assert stats["processed_buckets"] == sorted(set(stats["processed_buckets"]))

    nodes = spark.read.parquet(f"{out_dir}/nodes")
    edges = spark.read.parquet(f"{out_dir}/edges")
    assert nodes.filter("entity_id is null or canonical is null").count() == 0
    assert edges.count() > 0
    # every edge endpoint resolves to a node
    eids = {r["entity_id"] for r in nodes.select("entity_id").collect()}
    for r in edges.select("subj_id", "obj_id").collect():
        assert r["subj_id"] in eids and r["obj_id"] in eids

    mf = spark.read.parquet(f"{out_dir}/manifest")
    assert mf.filter("status = 'done'").count() == len(stats["processed_buckets"])
    assert mf.filter("docs <= 0 or wall_ms < 0").count() == 0


def test_second_run_is_noop(spark, out_dir):  # noqa: F811
    docs, alias = _inputs(spark)
    run_kg(spark, docs, alias, out_dir, n_buckets=8)
    again = run_kg(spark, docs, alias, out_dir, n_buckets=8)
    assert again["processed_buckets"] == []
    assert len(again["skipped_buckets"]) > 0


def test_resume_recomputes_only_missing_buckets(spark, out_dir):  # noqa: F811
    docs, alias = _inputs(spark)
    first = run_kg(spark, docs, alias, out_dir, n_buckets=8)
    sig_before = {
        t: _table_sig(spark, f"{out_dir}/{t}", cols)
        for t, cols in [("triples", ["doc_id", "sent_id", "subj", "pred", "obj"]),
                        ("edges", ["subj_id", "pred", "obj_id", "doc_id"]),
                        ("nodes", ["entity_id", "canonical", "type", "mention_count"])]
    }

    # simulate a mid-run crash: drop manifest rows for 3 buckets
    mf = spark.read.parquet(f"{out_dir}/manifest")
    lost = first["processed_buckets"][:3]
    kept = mf.filter(~F.col("bucket").isin(lost)).collect()
    shutil.rmtree(f"{out_dir}/manifest")
    spark.createDataFrame(kept, mf.schema).write.parquet(f"{out_dir}/manifest")

    second = run_kg(spark, docs, alias, out_dir, n_buckets=8)
    assert sorted(second["processed_buckets"]) == sorted(int(b) for b in lost)
    assert sorted(second["skipped_buckets"]) == sorted(
        b for b in first["processed_buckets"] if b not in lost)

    # outputs byte-identical (order-insensitive) — including the GLOBAL
    # nodes table, which must be rebuilt from all buckets, not just the
    # recomputed ones
    for t, cols in [("triples", ["doc_id", "sent_id", "subj", "pred", "obj"]),
                    ("edges", ["subj_id", "pred", "obj_id", "doc_id"]),
                    ("nodes", ["entity_id", "canonical", "type", "mention_count"])]:
        assert _table_sig(spark, f"{out_dir}/{t}", cols) == sig_before[t]


def test_fingerprint_change_invalidates_resume(spark, out_dir):  # noqa: F811
    docs, alias = _inputs(spark)
    run_kg(spark, docs, alias, out_dir, n_buckets=8)
    more = synth_documents(spark, 90, seed=42)  # different input
    res = run_kg(spark, more, alias, out_dir, n_buckets=8)
    assert res["skipped_buckets"] == []  # fingerprint mismatch -> full run


def test_bucket_layout_change_invalidates_resume(spark, out_dir):  # noqa: F811
    """Same input, different n_buckets: bucket ids mean different doc
    sets, so nothing from the old layout may be skipped."""
    docs, alias = _inputs(spark)
    run_kg(spark, docs, alias, out_dir, n_buckets=8)
    res = run_kg(spark, docs, alias, out_dir, n_buckets=4)
    assert res["skipped_buckets"] == []
    assert res["docs"] == 80


def test_graph_joins_survive_no_broadcast(spark, out_dir):  # noqa: F811
    """With auto-broadcast disabled (the 100-TB shape: distinct
    surfaces exceed any broadcast threshold) the surface-map joins must
    degrade to shuffle joins and produce identical edges."""
    from phonlp_spark.pipeline.annotate import annotate_sentences_df
    from phonlp_spark.pipeline.ingest import split_sentences
    from phonlp_spark.pipeline.materialize import build_graph

    docs, alias = _inputs(spark, n=60)
    ann = annotate_sentences_df(split_sentences(docs)).cache()

    def edge_sig(graph):
        cols = ["subj_id", "pred", "obj_id", "doc_id"]
        return (graph.edges.count(), graph.nodes.count(),
                graph.edges.select(F.bit_xor(F.xxhash64(*cols)).alias("h"))
                .collect()[0]["h"])

    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    graphs = [build_graph(ann, alias)]
    try:
        baseline = edge_sig(graphs[0])
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        graphs.append(build_graph(ann, alias))
        plan = graphs[1].edges._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert edge_sig(graphs[1]) == baseline
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        for g in graphs:
            g.release()
        ann.unpersist()


def test_run_kg_canonicalizes_once(spark, out_dir, monkeypatch):  # noqa: F811
    """Canonicalization depends only on the alias dictionary, so one
    run computes its connected components exactly once."""
    from phonlp_spark.pipeline import cc

    calls = []
    orig = cc.connected_components

    def counted(*args, **kwargs):
        calls.append(1)
        return orig(*args, **kwargs)

    monkeypatch.setattr(cc, "connected_components", counted)
    docs, alias = _inputs(spark, n=30)
    run_kg(spark, docs, alias, out_dir, n_buckets=4)
    assert len(calls) == 1


def test_run_kg_leaves_nothing_persisted(spark, out_dir):  # noqa: F811
    """Every cache and checkpoint run_kg creates is released before it
    returns."""
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs()
                   .keySet().toArray())

    docs, alias = _inputs(spark, n=30)
    before = persisted()
    run_kg(spark, docs, alias, out_dir, n_buckets=4)
    assert persisted() <= before


def test_dedup_pre_stage_skips_kernel_for_duplicates(spark, tmp_path):  # noqa: F811
    """dedup=True composes exact dedup ahead of the annotation kernel:
    duplicated input yields the SAME graph as the unique input, and the
    duplicates never reach the kernel (annotation row counts match the
    unique run, not the inflated one)."""
    docs, alias = _inputs(spark, n=30)
    # content duplicates under fresh ids; 'dup_...' sorts after the
    # originals, so min(doc_id) keeps every original row
    dupes = docs.withColumn("doc_id", F.concat(F.lit("dup_"), "doc_id"))
    doubled = docs.unionByName(dupes)

    d_uniq, d_dedup, d_raw = (str(tmp_path / x) for x in ("u", "d", "r"))
    run_kg(spark, docs, alias, d_uniq, n_buckets=4)
    run_kg(spark, doubled, alias, d_dedup, n_buckets=4, dedup=True)
    run_kg(spark, doubled, alias, d_raw, n_buckets=4)

    for table, cols in (("edges", ["subj_id", "pred", "obj_id", "doc_id", "sent_id"]),
                        ("nodes", ["entity_id", "canonical", "type", "mention_count"]),
                        ("annotations", ["doc_id", "sent_id", "token_id", "word"])):
        assert _table_sig(spark, f"{d_dedup}/{table}", cols) == \
            _table_sig(spark, f"{d_uniq}/{table}", cols), table

    n_uniq = spark.read.parquet(f"{d_uniq}/annotations").count()
    n_raw = spark.read.parquet(f"{d_raw}/annotations").count()
    assert n_raw == 2 * n_uniq  # without dedup every duplicate pays the kernel
    for d in (d_uniq, d_dedup, d_raw):
        shutil.rmtree(d, ignore_errors=True)


def test_dedup_resume_interaction(spark, tmp_path):  # noqa: F811
    """Resume fingerprints the DEDUPED input: a second dedup=True run
    over the same (duplicated) source is a no-op, not a recompute."""
    docs, alias = _inputs(spark, n=20)
    doubled = docs.unionByName(
        docs.withColumn("doc_id", F.concat(F.lit("dup_"), "doc_id")))
    out = str(tmp_path / "kg")
    first = run_kg(spark, doubled, alias, out, n_buckets=4, dedup=True)
    assert first["processed_buckets"]
    again = run_kg(spark, doubled, alias, out, n_buckets=4, dedup=True)
    assert again["processed_buckets"] == []
    assert sorted(again["skipped_buckets"]) == sorted(
        first["processed_buckets"])
    shutil.rmtree(out, ignore_errors=True)


def test_attempt_counts_per_bucket(spark, out_dir):  # noqa: F811
    """VERDICT r3 #7: the manifest's attempt column is a real
    per-bucket counter over recorded runs of the same input+layout,
    not a global 1/2 flag."""
    docs, alias = _inputs(spark)
    run_kg(spark, docs, alias, out_dir, n_buckets=8)
    mf = spark.read.parquet(f"{out_dir}/manifest")
    assert mf.filter("attempt != 1").count() == 0

    # forced full re-run (resume off): every bucket's second recorded
    # attempt must be exactly 2
    run_kg(spark, docs, alias, out_dir, n_buckets=8, resume=False)
    mf = spark.read.parquet(f"{out_dir}/manifest")
    per_bucket = {r["bucket"]: r["m"]
                  for r in mf.groupBy("bucket")
                  .agg(F.max("attempt").alias("m")).collect()}
    assert all(v == 2 for v in per_bucket.values())

    # and a third run bumps to 3 — a counter, not a flag
    run_kg(spark, docs, alias, out_dir, n_buckets=8, resume=False)
    mf = spark.read.parquet(f"{out_dir}/manifest")
    assert mf.agg(F.max("attempt")).collect()[0][0] == 3
