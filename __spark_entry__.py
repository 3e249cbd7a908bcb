"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship KG-construction query on sf0.001.
`queries()` exposes one callable per implemented operator family from
SURVEY.md §2 / §2.11; `oracle_sql()` gives the DuckDB-runnable ANSI
mirror for every SQL-expressible one (kernel-based queries are
rows-only checked by design — the kernel's own oracle parity is
enforced in tests/test_pipeline_annotate.py).

Column names and types are aligned on both sides (ints/strings/decimals
only in SQL-checked outputs; no raw floats) so the driver's
order-insensitive value hash matches bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SENT_TOKENS = 12  # keep in sync with phonlp_spark.pipeline.ingest
N_ALIAS_NAMES = 40


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# mixed content (nsubj..advmod) / functional (case..mark) / neither
# (punct) relations for the synthesized CLAS trees
_CLAS_RELS = ["nsubj", "obj", "nmod", "amod", "advmod",
              "case", "det", "cc", "mark", "punct"]


def _sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id bigint, sent_id int, sentence string): 12-token chunks.

    The doc scan is fanned out first (no-op on wide scans) so the
    split/explode work runs at cluster width, not on the fixture
    file's 1-2 scan tasks."""
    from phonlp_spark.ops.fanout import fan_out
    toks = F.split(F.col("text"), " ")
    n = F.greatest(F.ceil(F.size(toks) / F.lit(SENT_TOKENS)), F.lit(1)).cast("int")
    ks = F.sequence(F.lit(0), n - 1)
    chunks = F.transform(
        ks, lambda k: F.array_join(
            F.slice(toks, k * SENT_TOKENS + 1, SENT_TOKENS), " "))
    return (
        fan_out(_docs(spark, sf_dir))
        .select("doc_id", F.posexplode(chunks).alias("sent_id", "sentence"))
        .select("doc_id", F.col("sent_id").cast("int").alias("sent_id"), "sentence")
    )


_SENT_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (
  SELECT doc_id, CAST(k AS INT) AS sent_id,
         array_to_string(toks[k*{SENT_TOKENS}+1 : k*{SENT_TOKENS}+{SENT_TOKENS}], ' ') AS sentence
  FROM t, UNNEST(range(CAST(greatest(ceil(len(toks)/{SENT_TOKENS}.0), 1) AS BIGINT))) AS u(k)
)
"""


def _interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    from phonlp_spark.pipeline.ingest import interleave_documents
    return interleave_documents(_docs(spark, sf_dir))


def _annotated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from phonlp_spark.pipeline.annotate import annotate_sentences_df
    from phonlp_spark.pipeline.ingest import split_sentences
    return annotate_sentences_df(split_sentences(_interleaved(spark, sf_dir)))


def _alias_names(mentions: DataFrame) -> list[str]:
    """Deterministic alias inventory: the N most frequent mention
    surfaces (ties by text) — derived from the data, stable across
    runs and cluster sizes."""
    rows = (
        mentions.groupBy("text").count()
        .orderBy(F.col("count").desc(), F.col("text"))
        .limit(N_ALIAS_NAMES).collect()
    )
    return [r["text"].replace(" ", "_") for r in rows]


def _graph(spark: SparkSession, sf_dir: str):
    """The KG graph build behind entry() and the kg_nodes / kg_edges /
    kg_edges_integrity queries: the annotated corpus, linked against
    the alias dictionary of its own top mention surfaces.  The build's
    caches stay held: the returned tables are lazy and the driver
    consumes them after this returns."""
    from phonlp_spark.pipeline.linking import build_alias_dict
    from phonlp_spark.pipeline.materialize import build_graph
    return build_graph(
        _annotated(spark, sf_dir),
        lambda mentions: build_alias_dict(spark, _alias_names(mentions)))


def _tagged_union(variants, cols: list[str]) -> DataFrame:
    """One table of several (variant, frame) outputs: queries() is
    capped at 50 entries, so parameter variants of one operator share
    an entry via a variant tag."""
    return reduce(DataFrame.unionByName,
                  [df.select(F.lit(m).alias("variant"), *cols)
                   for m, df in variants])


_CENTS_CACHE: dict[str, list] = {}


def _trained_cents(spark: SparkSession, sf_dir: str) -> list:
    """Default-parameter k-means centroid rows, memoized per sf_dir.

    Four queries() entries compose trained-IVF operators over the same
    embeddings table; without this the identical deterministic fit
    would re-run once per operator (ADVICE r3).  The fit is
    partitioning-invariant integer arithmetic, so caching by input dir
    is exact, not approximate.
    """
    if sf_dir not in _CENTS_CACHE:
        from phonlp_spark.ops.similarity import trained_centroids_rows
        _CENTS_CACHE[sf_dir] = trained_centroids_rows(
            _table(spark, sf_dir, "embeddings"))
    return _CENTS_CACHE[sf_dir]


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents -> annotate -> triples -> link -> canonical
    graph edges, on sf0.001."""
    return _graph(spark, "/root/testdata/sf0.001").edges


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from phonlp_spark.ops import dedup, scoring, similarity, textstats
    from phonlp_spark.ops.multimodal import media_kind_stats

    q: dict[str, Callable] = {}

    # ---- KG pipeline (SURVEY §2.1, §2.2, §2.5, §2.11) ----
    q["kg_sentences"] = lambda s, d: _sentences(s, d)

    q["kg_doc_stats"] = lambda s, d: _docs(s, d).select(
        "doc_id",
        F.greatest(F.ceil(F.size(F.split("text", " ")) / F.lit(SENT_TOKENS)),
                   F.lit(1)).cast("int").alias("n_sentences"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )

    def kg_vocab(s, d):
        toks = _sentences(s, d).select(
            F.explode(F.split("sentence", " ")).alias("token"))
        from pyspark.sql.window import Window
        w = Window.orderBy(F.col("freq").desc(), F.col("token"))
        return (
            toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
            .filter(F.col("freq") >= 7)
            .withColumn("rank", F.row_number().over(w).cast("int"))
        )
    q["kg_vocab"] = kg_vocab

    def kg_components(s, d):
        from phonlp_spark.pipeline.cc import canonical_map
        docs = _docs(s, d).select("doc_id")
        mx = docs.agg(F.max("doc_id")).collect()[0][0]
        pad = F.format_string("%010d", F.col("doc_id"))
        edges = (
            docs.filter((F.col("doc_id") % 3 == 0) & (F.col("doc_id") + 7 <= mx))
            .select(pad.alias("src"),
                    F.format_string("%010d", F.col("doc_id") + 7).alias("dst"))
        )
        nodes = docs.select(pad.alias("node"))
        return canonical_map(edges, nodes).select(
            F.col("node").cast("bigint").alias("doc_id"),
            F.col("component").cast("bigint").alias("component"))
    q["kg_components"] = kg_components

    # kernel-backed (rows-only checks: not SQL-expressible by design)
    def kg_annotations(s, d):
        from phonlp_spark.pipeline.annotate import annotations_long
        return annotations_long(_annotated(s, d))
    q["kg_annotations"] = kg_annotations

    def kg_mentions(s, d):
        from phonlp_spark.pipeline.annotate import mentions_df
        return mentions_df(_annotated(s, d))
    q["kg_mentions"] = kg_mentions

    def kg_triples(s, d):
        from phonlp_spark.pipeline.annotate import triples_df
        return triples_df(_annotated(s, d))
    q["kg_triples"] = kg_triples

    q["kg_nodes"] = lambda s, d: _graph(s, d).nodes
    q["kg_edges"] = lambda s, d: _graph(s, d).edges

    def kg_span_invariant(s, d):
        """Docs whose span sequence survives the pipeline unchanged —
        must equal the total doc count (rows-only; asserted in tests)."""
        from phonlp_spark.pipeline.annotate import reassemble_documents
        docs = _interleaved(s, d)
        rb = reassemble_documents(docs, _annotated(s, d))
        j = docs.alias("a").join(rb.alias("b"), "doc_id")
        same = j.filter(F.col("a.spans") == F.col("b.spans"))
        return same.agg(F.count(F.lit(1)).alias("n_docs_invariant"))
    q["kg_span_invariant"] = kg_span_invariant

    def kg_annotations_degenerate(s, d):
        """Kernel plumbing under a VALUE-checked driver oracle (VERDICT
        r2 #6): feed every sentence's FIRST token through the real
        mapInArrow kernel as a 1-token sentence.  For 1-token input
        the outputs have closed forms the oracle verifies WITHOUT
        running any kernel: MST head is always 0 (single root), tags
        always land in the fixed seeded vocab (special-mask), and every
        tag is a pure function of the token (context-free encoder) so
        distinct (token, tags) combos == distinct tokens.  Any explode/
        key/determinism/masking bug in the Spark stage breaks the hash.
        """
        from phonlp_spark.kernel.vocab import DEP_RELS, NER_TAGS, POS_TAGS
        from phonlp_spark.pipeline.annotate import annotate_sentences_df
        single = _sentences(s, d).select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col("sent_id").alias("span_idx"), "sent_id",
            F.slice(F.split("sentence", " "), 1, 1).alias("tokens"))
        ann = annotate_sentences_df(single)
        row = ann.select(
            F.col("tokens")[0].alias("tok"), F.col("upos")[0].alias("u"),
            F.col("ner")[0].alias("n"), F.col("head")[0].alias("h"),
            F.col("deprel")[0].alias("r"))
        return row.agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.countDistinct("tok").alias("n_distinct_tokens"),
            F.countDistinct(F.struct("tok", "u", "n", "r"))
            .alias("n_tag_combos"),
            F.sum((F.col("h") == 0).cast("long")).alias("n_head_root"),
            F.sum(F.col("u").isin(*POS_TAGS).cast("long")).alias("n_valid_upos"),
            F.sum(F.col("n").isin(*NER_TAGS).cast("long")).alias("n_valid_ner"),
            F.sum(F.col("r").isin(*DEP_RELS).cast("long")).alias("n_valid_deprel"))
    q["kg_annotations_degenerate"] = kg_annotations_degenerate

    def kg_mentions_degenerate(s, d):
        """Mention/triple kernel plumbing under closed-form oracle
        invariants, same degenerate-input trick: a 1-token sentence can
        yield at most one mention, whose span must be (0,0)
        (INCLUSIVE 0-based indices, kernel/bioes.py:53), whose text
        must equal the token, whose type must be a literal NER type;
        mention behavior is a pure function of the token; and a triple
        REQUIRES two mentions, so the triple count is exactly zero.
        Every violation column's oracle value is the constant 0."""
        from phonlp_spark.kernel.vocab import NER_TYPES
        from phonlp_spark.pipeline.annotate import annotate_sentences_df
        single = _sentences(s, d).select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col("sent_id").alias("span_idx"), "sent_id",
            F.slice(F.split("sentence", " "), 1, 1).alias("tokens"))
        ann = annotate_sentences_df(
            single, columns=("tokens", "mentions", "triples"))
        rows = ann.select(
            F.col("tokens")[0].alias("tok"),
            F.size("mentions").alias("nm"),
            F.size("triples").alias("nt"),
            F.get("mentions", 0).alias("m"))
        per_tok = (rows
                   .groupBy("tok")
                   .agg(F.countDistinct(F.struct(
                       (F.col("nm") > 0).alias("has"),
                       F.coalesce(F.col("m.type"), F.lit("")).alias("typ")))
                       .alias("variants"))
                   .agg(F.sum((F.col("variants") > 1).cast("long"))
                        .alias("n_inconsistent_tokens")))
        agg = rows.agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.sum((F.col("nm") > 1).cast("long")).alias("n_multi_mention"),
            F.sum(((F.col("nm") > 0) & (
                (F.col("m.start") != 0) | (F.col("m.end") != 0)))
                .cast("long")).alias("n_bad_span"),
            F.sum(((F.col("nm") > 0) & (F.col("m.text") != F.col("tok")))
                  .cast("long")).alias("n_text_mismatch"),
            F.sum(((F.col("nm") > 0) & (~F.col("m.type").isin(*NER_TYPES)))
                  .cast("long")).alias("n_bad_type"),
            F.sum("nt").cast("long").alias("n_triples"))
        return agg.crossJoin(per_tok).select(
            "n_sentences", "n_multi_mention", "n_bad_span",
            "n_text_mismatch", "n_bad_type", "n_triples",
            "n_inconsistent_tokens")
    q["kg_mentions_degenerate"] = kg_mentions_degenerate

    def kg_triples_degenerate(s, d):
        """Triple-extraction plumbing under closed-form oracle
        invariants (VERDICT r3 #4): feed each sentence's first TWO
        (distinct) tokens through the real kernel stage.  With exactly
        two tokens there is exactly one in-sentence dependency arc, so
        the predicate-frame rule (needs two dependents) can never fire
        and the nmod rule fires at most once — every sentence yields 0
        or 1 triples, and any emitted triple must be
        (token, 'nmod', other-token) with NER-typed args from two
        distinct mentions (kernel/triples.py:74-87).  Determinism: the
        encoder sees only the pair, so triple behavior is a pure
        function of (t1, t2).  Every violation column's oracle value is
        the constant 0; anchors (n_sentences, n_distinct_pairs) come
        from the input side only."""
        from phonlp_spark.kernel.vocab import NER_TYPES
        from phonlp_spark.pipeline.annotate import annotate_sentences_df
        toks = F.split("sentence", " ")
        pairs = (_sentences(s, d)
                 .filter(F.size(toks) >= 2)
                 .select(F.col("doc_id").cast("string").alias("doc_id"),
                         F.col("sent_id").alias("span_idx"), "sent_id",
                         F.slice(toks, 1, 2).alias("tokens"))
                 .filter(F.col("tokens")[0] != F.col("tokens")[1]))
        ann = annotate_sentences_df(
            pairs, columns=("tokens", "mentions", "triples"))
        rows = ann.select(
            F.col("tokens")[0].alias("t1"), F.col("tokens")[1].alias("t2"),
            F.size("mentions").alias("nm"), F.size("triples").alias("nt"),
            F.get("triples", 0).alias("tr"))
        per_pair = (
            rows.groupBy("t1", "t2")
            .agg(F.countDistinct(F.struct(
                (F.col("nt") > 0).alias("has"),
                F.coalesce(F.col("tr.subj"), F.lit("")).alias("sj"),
                F.coalesce(F.col("tr.obj"), F.lit("")).alias("ob")))
                .alias("variants"))
            .agg(F.coalesce(F.sum((F.col("variants") > 1).cast("long")),
                            F.lit(0)).alias("n_inconsistent_pairs"),
                 F.count(F.lit(1)).alias("n_distinct_pairs")))
        in_pair = ((F.col("tr.subj") == F.col("t1"))
                   | (F.col("tr.subj") == F.col("t2"))) & \
                  ((F.col("tr.obj") == F.col("t1"))
                   | (F.col("tr.obj") == F.col("t2")))
        agg = rows.agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.coalesce(F.sum((F.col("nt") > 1).cast("long")), F.lit(0))
            .alias("n_multi_triple"),
            F.coalesce(F.sum(((F.col("nt") > 0) & (F.col("nm") < 2))
                             .cast("long")), F.lit(0))
            .alias("n_triple_wo_mentions"),
            F.coalesce(F.sum(((F.col("nt") > 0) & (
                (F.col("tr.pred") != "nmod") | (F.col("tr.rule") != "nmod")))
                .cast("long")), F.lit(0)).alias("n_bad_pred"),
            F.coalesce(F.sum(((F.col("nt") > 0) & (
                ~in_pair | (F.col("tr.subj") == F.col("tr.obj"))))
                .cast("long")), F.lit(0)).alias("n_bad_args"),
            F.coalesce(F.sum(((F.col("nt") > 0) & (
                ~F.col("tr.subj_type").isin(*NER_TYPES)
                | ~F.col("tr.obj_type").isin(*NER_TYPES)))
                .cast("long")), F.lit(0)).alias("n_bad_type"))
        return agg.crossJoin(per_pair).select(
            "n_sentences", "n_multi_triple", "n_triple_wo_mentions",
            "n_bad_pred", "n_bad_args", "n_bad_type",
            "n_inconsistent_pairs", "n_distinct_pairs")
    q["kg_triples_degenerate"] = kg_triples_degenerate

    def kg_edges_integrity(s, d):
        """Referential-integrity gate over the materialized graph
        (VERDICT r3 #4): every edge endpoint must resolve to a node,
        every id must carry the content-derived format
        ('E'|'X' + 12 hex, linking.py:62,161), node ids must be unique
        and canonicals non-null.  All violation columns oracle to the
        constant 0; the anchor (n_docs) comes from the input table."""
        graph = _graph(s, d)
        edges, nodes = graph.edges, graph.nodes.cache()
        id_re = "^[EX][0-9a-f]{12}$"
        nid = nodes.select("entity_id")
        subj_missing = (edges.join(nid, edges["subj_id"] == nid["entity_id"],
                                   "left_anti")
                        .agg(F.count(F.lit(1)).alias("n_subj_missing")))
        obj_missing = (edges.join(nid, edges["obj_id"] == nid["entity_id"],
                                  "left_anti")
                       .agg(F.count(F.lit(1)).alias("n_obj_missing")))
        node_checks = nodes.agg(
            F.coalesce(F.sum((~F.col("entity_id").rlike(id_re))
                             .cast("long")), F.lit(0)).alias("n_bad_entity_id"),
            F.coalesce(F.sum(F.col("canonical").isNull().cast("long")),
                       F.lit(0)).alias("n_null_canonical"))
        dup = (nodes.groupBy("entity_id").agg(F.count(F.lit(1)).alias("c"))
               .agg(F.coalesce(F.sum((F.col("c") > 1).cast("long")), F.lit(0))
                    .alias("n_dup_entity")))
        edge_ids = edges.agg(
            F.coalesce(F.sum((~F.col("subj_id").rlike(id_re)
                              | ~F.col("obj_id").rlike(id_re)).cast("long")),
                       F.lit(0)).alias("n_bad_edge_id"))
        n_docs = _docs(s, d).agg(F.count(F.lit(1)).alias("n_docs"))
        return (n_docs.crossJoin(subj_missing).crossJoin(obj_missing)
                .crossJoin(node_checks).crossJoin(dup).crossJoin(edge_ids))
    q["kg_edges_integrity"] = kg_edges_integrity

    def kg_linking_degenerate(s, d):
        """Linking VALUE semantics under a closed-form driver oracle
        (VERDICT r4 next-round #2): on mention surfaces that exactly
        hit the alias dictionary, link_mentions must reproduce the
        DICTIONARY's surface->entity mapping — the minimum entity id
        over all alias variants sharing the normalized surface
        (linking.py stage 1; reference semantics: the vocab map with
        fallback, phonlp/models/ner/vocab.py:55-69).  The expected map
        is rebuilt HERE declaratively (md5 ids + variant explode +
        group-min) without touching linking.py's join/broadcast/
        coalesce machinery, so a wrong id assignment — not just a
        malformed id — breaks the n_wrong_id column.  Violations
        oracle to 0; anchors (n_docs, n_alias_names) come from the
        input table and a literal."""
        from phonlp_spark.pipeline.annotate import mentions_df
        from phonlp_spark.pipeline.linking import (
            build_alias_dict, link_mentions, norm_surface)
        mentions = mentions_df(_annotated(s, d))
        names = _alias_names(mentions)
        alias = build_alias_dict(s, names)
        linked = link_mentions(mentions, alias)
        # dictionary mapping rebuilt from the name list alone: each
        # name's variants (itself, space form, 2-segment truncation),
        # normalized, grouped to the min md5-derived id — mirrors
        # build_alias_dict + stage-1 grouping in pure DataFrame ops
        name_df = s.createDataFrame([(n,) for n in names], "name string")
        parts = F.split("name", "_")
        variants = name_df.select(
            "name",
            F.explode(F.array_distinct(F.array(
                F.col("name"),
                F.regexp_replace("name", "_", " "),
                F.when(F.size(parts) > 2,
                       F.array_join(F.slice(parts, 1, 2), "_"))
                .otherwise(F.col("name"))))).alias("alias"))
        expected = (variants
                    .select(norm_surface(F.col("alias")).alias("nsurf"),
                            F.concat(F.lit("E"),
                                     F.substring(F.md5("name"), 1, 12))
                            .alias("eid"))
                    .groupBy("nsurf")
                    .agg(F.min("eid").alias("expected_id")))
        hits = (linked.withColumn("nsurf", norm_surface(F.col("text")))
                .join(F.broadcast(expected), "nsurf"))  # dict hits only
        agg = hits.agg(
            F.coalesce(F.sum((F.col("entity_id") != F.col("expected_id"))
                             .cast("long")), F.lit(0)).alias("n_wrong_id"),
            F.coalesce(F.sum((~F.col("entity_id")
                              .rlike("^E[0-9a-f]{12}$")).cast("long")),
                       F.lit(0)).alias("n_non_dict_id"),
            F.coalesce(F.sum(F.col("entity_id").isNull().cast("long")),
                       F.lit(0)).alias("n_null_id"))
        n_docs = _docs(s, d).agg(F.count(F.lit(1)).alias("n_docs"))
        return n_docs.crossJoin(agg).select(
            "n_docs",
            F.lit(len(names)).cast("long").alias("n_alias_names"),
            "n_wrong_id", "n_non_dict_id", "n_null_id")
    q["kg_linking_degenerate"] = kg_linking_degenerate

    # ---- scoring as aggregates (SURVEY §2.4) ----
    def _pred_gold(s, d):
        tok = _sentences(s, d).select(
            F.col("doc_id").cast("string").alias("doc_id"), "sent_id",
            F.posexplode(F.split("sentence", " ")).alias("pos", "token"))
        tok = tok.select(
            "doc_id", "sent_id", (F.col("pos") + 1).cast("int").alias("token_id"),
            F.col("token").alias("word"),
            F.concat(F.lit("T"), (F.conv(F.substring(F.md5("token"), 1, 1), 16, 10)
                                  .cast("int") % 4).cast("string")).alias("ptag"),
            F.concat(F.lit("T"), (F.conv(F.substring(F.md5(F.concat(F.lit("g:"),
                     F.col("token"))), 1, 1), 16, 10)
                                  .cast("int") % 4).cast("string")).alias("gtag"))
        return tok

    def score_token_prf(s, d):
        tok = _pred_gold(s, d)
        pred = tok.select("doc_id", "sent_id", "token_id", F.col("ptag").alias("ner"))
        gold = tok.select("doc_id", "sent_id", "token_id", F.col("gtag").alias("ner"))
        return scoring.token_prf_by_tag(pred, gold).select(
            "tag", F.col("guessed").cast("bigint").alias("guessed"),
            F.col("gold").cast("bigint").alias("gold"),
            F.col("correct").cast("bigint").alias("correct"),
            "precision_permille", "recall_permille")
    q["score_token_prf"] = score_token_prf

    def score_pos_acc(s, d):
        tok = _pred_gold(s, d)
        pred = tok.select("doc_id", "sent_id", "token_id", F.col("ptag").alias("upos"))
        gold = tok.select("doc_id", "sent_id", "token_id", F.col("gtag").alias("upos"))
        return scoring.pos_accuracy(pred, gold)
    q["score_pos_acc"] = score_pos_acc

    def score_aligned_tokens(s, d):
        """UD-eval span alignment under a DIVERGING tokenization:
        system re-tokenizes by splitting every 3rd token (len>=2) in
        half, so exactly the unsplit tokens align (char spans equal) —
        a closed form the oracle derives by counting."""
        from phonlp_spark.ops.alignment import align_tokens
        base = _sentences(s, d).select(
            F.col("doc_id").cast("string").alias("doc_id"), "sent_id",
            F.split("sentence", " ").alias("toks"))
        gold = base.select(
            "doc_id", "sent_id",
            F.posexplode("toks").alias("pos", "word")).select(
            "doc_id", "sent_id", (F.col("pos") + 1).cast("int").alias("token_id"),
            "word")
        system = base.selectExpr(
            "doc_id", "sent_id",
            """flatten(transform(toks, (x, i) ->
                 CASE WHEN (i + 1) % 3 = 0 AND length(x) >= 2
                      THEN array(substring(x, 1, CAST(floor(length(x)/2) AS INT)),
                                 substring(x, CAST(floor(length(x)/2) AS INT) + 1))
                      ELSE array(x) END)) AS stoks""").select(
            "doc_id", "sent_id",
            F.posexplode("stoks").alias("pos", "word")).select(
            "doc_id", "sent_id", (F.col("pos") + 1).cast("int").alias("token_id"),
            "word")
        aligned = align_tokens(gold, system)
        return (
            gold.agg(F.count(F.lit(1)).alias("n_gold"))
            .crossJoin(system.agg(F.count(F.lit(1)).alias("n_system")))
            .crossJoin(aligned.agg(F.count(F.lit(1)).alias("n_aligned")))
        )
    q["score_aligned_tokens"] = score_aligned_tokens

    def _synth_trees(s, d):
        """md5-synthesized gold/system dependency trees over identical
        tokenization (so the LCS alignment is the identity and every
        aligned-metric count is SQL-derivable); system heads/rels are
        perturbed on hash-chosen tokens."""
        rels = F.array(*[F.lit(r) for r in _CLAS_RELS])
        toks = _sentences(s, d).select(
            F.col("doc_id").cast("string").alias("doc_id"), "sent_id",
            F.posexplode(F.split("sentence", " ")).alias("pos", "word"))
        base = F.concat_ws(":", "doc_id", "sent_id", "token_id")

        def h(prefix):
            return F.conv(F.substring(F.md5(F.concat(F.lit(prefix), base)),
                                      1, 15), 16, 10).cast("bigint")

        t = toks.select(
            "doc_id", "sent_id",
            (F.col("pos") + 1).cast("int").alias("token_id"), "word")
        g_off = h("h:") % F.greatest(F.col("token_id") - 1, F.lit(1))
        g_head = F.when(F.col("token_id") == 1, F.lit(0)) \
            .otherwise(F.lit(1) + g_off).cast("int")
        g_ri = (h("r:") % len(_CLAS_RELS)).cast("int")
        g_rel = F.element_at(rels, g_ri + 1)
        t = t.withColumn("g_head", g_head).withColumn("g_rel", g_rel)
        # system: wrong head on ~1/7 of tokens with >=2 candidates,
        # wrong rel on ~1/5 of tokens
        s_head = F.when(
            (F.col("token_id") > 2) & (h("ph:") % 7 == 0),
            (F.lit(1) + (g_off + 1) % (F.col("token_id") - 1)).cast("int")
        ).otherwise(F.col("g_head"))
        s_rel = F.when(h("pr:") % 5 == 0,
                       F.element_at(rels, ((g_ri + 1) % len(_CLAS_RELS)) + 1)
                       ).otherwise(F.col("g_rel"))
        gold = t.select("doc_id", "sent_id", "token_id", "word",
                        F.col("g_head").alias("head"),
                        F.col("g_rel").alias("deprel"))
        system = t.select("doc_id", "sent_id", "token_id", "word",
                          s_head.alias("head"), s_rel.alias("deprel"))
        return gold, system

    def score_clas(s, d):
        """CLAS through the REAL cogrouped-alignment operator; see
        _synth_trees for why the oracle is closed-form."""
        from phonlp_spark.ops.alignment import clas_aligned
        gold, system = _synth_trees(s, d)
        return clas_aligned(gold, system)
    q["score_clas"] = score_clas

    def score_uas_las(s, d):
        """Unfiltered aligned UAS/LAS through the same cogrouped
        operator and synthetic trees (identity alignment ⇒ closed-form
        oracle counts)."""
        from phonlp_spark.ops.alignment import uas_las_aligned
        gold, system = _synth_trees(s, d)
        return uas_las_aligned(gold, system)
    q["score_uas_las"] = score_uas_las

    def _h_word(prefix, m):
        """Context-free per-word hash value in [0, m) — attrs derived
        from the token string alone so the DuckDB mirror recomputes
        them exactly."""
        return (F.conv(F.substring(F.md5(F.concat(F.lit(prefix),
                                                  F.col("word"))), 1, 15),
                       16, 10).cast("bigint") % m)

    def _with_synth_attrs(df):
        """md5-derived UPOS / FEATS / lemma columns on a synthetic
        tree side: gold values plus hash-chosen system perturbations
        (wrong UPOS ~1/6, flipped Number ~1/5, wrong lemma ~1/4,
        gold lemma '_' ~1/7 to exercise the BLEX escape).  Raw FEATS
        carry a non-universal 'Typo=Yes' ~1/5 and unsorted order so
        the operator's load-normalization is exercised end to end."""
        g_upos = F.concat(F.lit("U"), _h_word("u:", 3).cast("string"))
        s_upos = F.when(_h_word("pu:", 6) == 0,
                        F.concat(F.lit("U"), ((_h_word("u:", 3) + 1) % 3)
                                 .cast("string"))).otherwise(g_upos)
        num_g = F.when(_h_word("n:", 2) == 0, F.lit("Number=Sing")) \
            .otherwise(F.lit("Number=Plur"))
        num_s = F.when(_h_word("pf:", 5) == 0,
                       F.when(_h_word("n:", 2) == 0, F.lit("Number=Plur"))
                       .otherwise(F.lit("Number=Sing"))).otherwise(num_g)
        gen = F.when(_h_word("gv:", 2) == 0, F.lit("Gender=Masc")) \
            .otherwise(F.lit("Gender=Fem"))
        has_gen = _h_word("g:", 3) == 0
        typo = F.when(_h_word("ty:", 5) == 0, F.lit("Typo=Yes|")) \
            .otherwise(F.lit(""))

        def raw_feats(num):
            return F.concat(typo, num,
                            F.when(has_gen, F.concat(F.lit("|"), gen))
                            .otherwise(F.lit("")))
        g_lemma = F.when(_h_word("l:", 7) == 0, F.lit("_")) \
            .otherwise(F.lower("word"))
        s_lemma = F.when(_h_word("pl:", 4) == 0,
                         F.concat(F.lower("word"), F.lit("x"))) \
            .otherwise(F.lower("word"))
        return (df.withColumn("g_upos_", g_upos).withColumn("s_upos_", s_upos)
                .withColumn("g_feats_", raw_feats(num_g))
                .withColumn("s_feats_", raw_feats(num_s))
                .withColumn("g_lemma_", g_lemma)
                .withColumn("s_lemma_", s_lemma))

    def score_mlas_blex(s, d):
        """MLAS + BLEX through the REAL aligned operators over the
        synthetic trees (identity tokenization ⇒ every count is
        SQL-derivable): completes the CoNLL-2018 Score family at the
        driver (reference conll18_ud_eval.py:536-550)."""
        from phonlp_spark.ops.alignment import blex_aligned, mlas_aligned
        gold, system = _synth_trees(s, d)
        gold = _with_synth_attrs(gold).select(
            "doc_id", "sent_id", "token_id", "word", "head", "deprel",
            F.col("g_upos_").alias("upos"), F.col("g_feats_").alias("feats"),
            F.col("g_lemma_").alias("lemma"))
        system = _with_synth_attrs(system).select(
            "doc_id", "sent_id", "token_id", "word", "head", "deprel",
            F.col("s_upos_").alias("upos"), F.col("s_feats_").alias("feats"),
            F.col("s_lemma_").alias("lemma"))
        m = mlas_aligned(gold, system).select(
            F.lit("mlas").alias("metric"), "*")
        b = blex_aligned(gold, system).select(
            F.lit("blex").alias("metric"), "*")
        return m.unionByName(b)
    q["score_mlas_blex"] = score_mlas_blex

    def score_upos_aligned(s, d):
        """The UD-eval "UPOS" Score through the real aligned-field
        operator: identical tokenization on both sides (identity
        alignment), md5-derived pred/gold tags — every Score count is
        SQL-derivable in closed form."""
        from phonlp_spark.ops.alignment import aligned_field_score
        tok = _pred_gold(s, d)
        gold = tok.select("doc_id", "sent_id", "token_id", "word",
                          F.col("gtag").alias("upos"))
        system = tok.select("doc_id", "sent_id", "token_id", "word",
                            F.col("ptag").alias("upos"))
        return aligned_field_score(gold, system, "upos")
    q["score_upos_aligned"] = score_upos_aligned

    # ---- dedup family ----
    q["dedup_exact"] = lambda s, d: dedup.exact_dedup(_docs(s, d))
    q["dedup_jaccard"] = lambda s, d: dedup.jaccard_pairs(_docs(s, d), min_pct=5)
    q["dedup_minhash_sigs"] = lambda s, d: dedup.minhash_signatures(_docs(s, d))
    def dedup_lsh_pairs(s, d):
        """MinHash/LSH banding candidates at TWO parameterizations in
        one hash-checked table: 'base' = the sandbox sketch (8 hashes,
        4 bands of 2), 'wide' = the production-sized sketch (32 hashes,
        8 bands of 4) — same code path, same oracle generator, proving
        the sketch constants are arguments, not baked in.  (Merged from
        the r3 dedup_lsh_pairs / dedup_lsh_pairs_wide entries; see
        _tagged_union.)

        Both variants band over ONE shared 32-hash signature
        aggregate: _h64's salt is the hash index, so the base sketch's
        8 min-hashes are exactly mh0..mh7 of the wide sketch — same
        values, same oracle (see lsh_pairs_from_signatures)."""
        from phonlp_spark.ops.fanout import fan_out
        sig = dedup._signatures_from_shingles(
            dedup.token_shingles(fan_out(_docs(s, d))), 32)
        return _tagged_union(
            (("base", dedup.lsh_pairs_from_signatures(sig, n_minhash=8, band=2)),
             ("wide", dedup.lsh_pairs_from_signatures(sig, n_minhash=32, band=4))),
            ["a", "b"])
    q["dedup_lsh_pairs"] = dedup_lsh_pairs
    q["dedup_simhash"] = lambda s, d: dedup.simhash(_docs(s, d))
    q["dedup_simhash_pairs"] = lambda s, d: dedup.simhash_pairs(
        _docs(s, d), max_hamming=3, n_bands=4, bits=32)
    # the composed production path: LSH candidates -> exact Jaccard
    # verify (dedup_jaccard's quadratic shingle self-join never runs)
    q["dedup_lsh_verified"] = lambda s, d: dedup.lsh_verified_pairs(
        _docs(s, d), min_pct=5)

    # embedding-cosine near-dup (dedup family member): single-table LSH /
    # OR-amplified / trained-IVF candidates, exact-cosine threshold
    # (300 fits the synthetic embeddings' similarity range; production
    # uses ~950), all three variants in one hash-checked table
    def near_dup_variants(s, d):
        emb = _table(s, d, "embeddings")
        return (
            ("lsh_p4", similarity.embedding_near_dups_multi(
                emb, min_cos_x1000=300, n_tables=1, planes=4)),
            ("lsh_multi", similarity.embedding_near_dups_multi(
                emb, min_cos_x1000=300)),
            ("ivf_trained", similarity.embedding_near_dups_ivf(
                emb, min_cos_x1000=300, cents_rows=_trained_cents(s, d))))
    q["dedup_embedding"] = lambda s, d: _tagged_union(
        near_dup_variants(s, d), ["a", "b", "cos_x1000"])

    # ---- similarity search ----
    qids = list(range(10))
    topk_cols = ["query_id", "neighbor_id", "rank"]
    q["ann_cosine_topk"] = lambda s, d: similarity.cosine_topk(
        _table(s, d, "embeddings"), query_ids=qids, k=5)
    q["ann_lsh_buckets"] = lambda s, d: similarity.lsh_buckets(
        _table(s, d, "embeddings"))

    def lsh_topk_variants(s, d):
        """Hyperplane-LSH ANN top-k, four parameterizations: 'p4' (one
        table, 4 planes), 'p6' (one table, 6 planes — production bucket
        granularity), 'multi' (4 tables x 6 planes, OR-amplified),
        'multiprobe' (multi + query-side Hamming-1 probing — the
        variant that lifts hyperplane recall to a defensible level)."""
        emb = _table(s, d, "embeddings")
        return (
            ("p4", similarity.ann_topk_lsh_multi(
                emb, qids, k=5, n_tables=1, planes=4)),
            ("p6", similarity.ann_topk_lsh_multi(
                emb, qids, k=5, n_tables=1, planes=6)),
            ("multi", similarity.ann_topk_lsh_multi(
                emb, qids, k=5, n_tables=4, planes=6)),
            ("multiprobe", similarity.ann_topk_lsh_multiprobe(
                emb, qids, k=5, n_tables=4, planes=6)))
    q["ann_lsh_topk"] = lambda s, d: _tagged_union(
        lsh_topk_variants(s, d), topk_cols)

    # IVF: 'seeded' = literal seeded centroids; 'trained' = in-engine
    # integer-quantized k-means (deterministic, oracle-mirrored) — the
    # production index the seeded variant stands in for
    def ann_ivf_cells(s, d):
        emb = _table(s, d, "embeddings")
        return _tagged_union(
            (("seeded", similarity.ivf_cells(emb)),
             ("trained", similarity.ivf_cells_trained(
                 emb, cents_rows=_trained_cents(s, d)))),
            ["vec_id", "cell"])
    q["ann_ivf_cells"] = ann_ivf_cells

    def ivf_topk_variants(s, d):
        emb = _table(s, d, "embeddings")
        return (
            ("seeded", similarity.ann_topk_ivf(emb, qids, k=5)),
            ("trained", similarity.ann_topk_ivf_trained(
                emb, qids, k=5, n_probe=2, cents_rows=_trained_cents(s, d))))
    q["ann_ivf_topk"] = lambda s, d: _tagged_union(
        ivf_topk_variants(s, d), topk_cols)

    def quality_recall(s, d):
        """EVERY candidate-generation / retrieval recall gate in one
        hash-checked table (family, method, hits, total,
        recall_permille):

        - family 'ann': recall@5 of each approximate ANN variant vs the
          exact cosine top-k (the r2-verdict retrieval-quality gate);
        - family 'dedup_text': the composed LSH->exact-Jaccard path vs
          the full exact-Jaccard pair set (subset by construction);
        - family 'dedup_embedding': each near-dup candidate generator
          vs the brute-force threshold pairs (the exact sides exist
          only as measurement denominators — production never runs
          them).
        """
        emb = _table(s, d, "embeddings")
        exact = similarity.cosine_topk(emb, qids, k=5)
        rows = [("ann", similarity.recall_vs_exact(exact, df, f"{pre}_{m}"))
                for pre, variants in (("lsh", lsh_topk_variants(s, d)),
                                      ("ivf", ivf_topk_variants(s, d)))
                for m, df in variants]
        rows.append(("dedup_text", similarity.recall_row(
            dedup.lsh_verified_pairs(_docs(s, d), min_pct=5),
            dedup.jaccard_pairs(_docs(s, d), min_pct=5), "lsh_verified")))

        left = emb.select(F.col("vec_id").alias("a"),
                          F.col("embedding").alias("va"))
        right = emb.select(F.col("vec_id").alias("b"),
                           F.col("embedding").alias("vb"))
        cos = similarity.dot(F.col("va"), F.col("vb")) / (
            similarity.norm(F.col("va")) * similarity.norm(F.col("vb")))
        e_pairs = (left.join(right, F.col("a") < F.col("b"))
                   .filter(F.round(cos * 1000) >= 300))
        rows += [("dedup_embedding", similarity.recall_row(appr, e_pairs, m))
                 for m, appr in near_dup_variants(s, d)]
        return reduce(DataFrame.unionByName,
                      [r.select(F.lit(fam).alias("family"), "*")
                       for fam, r in rows])
    q["quality_recall"] = quality_recall

    # ---- text analysis ----
    # one-pass doc profile (token stats + quality + langid +
    # fingerprint; single scan, zero shuffles — see textstats.profile)
    q["text_profile"] = lambda s, d: textstats.profile(_docs(s, d))
    q["text_len_percentiles"] = lambda s, d: textstats.length_percentiles(
        _docs(s, d))

    # ---- multimodal plumbing ----
    q["media_kind_stats"] = lambda s, d: media_kind_stats(_interleaved(s, d))

    def _media_payload(s, d):
        from phonlp_spark.ops.multimodal import attach_fake_payload, media_spans
        return attach_fake_payload(media_spans(_interleaved(s, d)))

    def media_features(s, d):
        from phonlp_spark.ops.multimodal import extract_media_features
        return extract_media_features(_media_payload(s, d)).select(
            "doc_id", "media_ref", "kind", "n_bytes", "checksum")
    q["media_features"] = media_features

    def media_resize(s, d):
        from phonlp_spark.ops.multimodal import resize_media
        return resize_media(_media_payload(s, d))
    q["media_resize"] = media_resize

    def media_frames(s, d):
        from phonlp_spark.ops.multimodal import sample_frames
        return sample_frames(_media_payload(s, d))
    q["media_frames"] = media_frames

    # ---- relational core over TPC-H-ish tables (SURVEY §2.3, §2.4, §2.6) ----
    # Money math is integer cents END TO END: per-row round(x*100) to
    # bigint BEFORE any sum.  Double sums are order-dependent and
    # double->decimal casts tie-break differently across engines; integer
    # accumulation is exact and partitioning-invariant.  (At extreme
    # scale the x10000 accumulators would move to decimal(38,0) —
    # same per-row rule, wider sum type.)
    def _cents(col):
        return F.round(F.col(col) * 100).cast("bigint")

    def tpch_pricing(s, d):
        li = _table(s, d, "lineitem")
        disc_x100 = F.round(F.col("l_discount") * 100).cast("bigint")
        return (
            li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum(_cents("l_quantity")).alias("sum_qty_x100"),
                F.sum(_cents("l_extendedprice")).alias("sum_base_price_x100"),
                F.sum(_cents("l_extendedprice") * (F.lit(100) - disc_x100))
                .alias("sum_disc_price_x10000"),
                F.count(F.lit(1)).alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus")
        )
    q["tpch_pricing"] = tpch_pricing

    def tpch_top_customers(s, d):
        li = _table(s, d, "lineitem")
        # shuffled-hash, not broadcast, for the orders side (guide
        # §3.1): the column-pruned orders estimate slips under the
        # auto-broadcast threshold, but building a |orders|-row hash
        # relation on the driver is a serial ~1.3 s prepay (measured
        # 2.4 -> 1.1 s at sf1.0 from this hint alone) — and at real
        # scale orders cannot broadcast at all, so SHJ is also the
        # 100-TB-correct strategy.  customer stays broadcast (tiny).
        o = _table(s, d, "orders").hint("shuffle_hash")
        c = _table(s, d, "customer")
        disc_x100 = F.round(F.col("l_discount") * 100).cast("bigint")
        rev = _cents("l_extendedprice") * (F.lit(100) - disc_x100)
        return (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
            .groupBy("c_custkey", "c_name")
            .agg(F.sum(rev).alias("revenue_x10000"),
                 F.count(F.lit(1)).alias("n_items"))
            .orderBy(F.col("revenue_x10000").desc(), F.col("c_custkey"))
            .limit(10)
        )
    q["tpch_top_customers"] = tpch_top_customers

    def tpch_region_rollup(s, d):
        n = _table(s, d, "nation")
        r = _table(s, d, "region")
        c = _table(s, d, "customer")
        return (
            c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
            .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
            .groupBy("r_name")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.countDistinct("n_nationkey").alias("n_nations"))
            .orderBy("r_name")
        )
    q["tpch_region_rollup"] = tpch_region_rollup

    def events_user_rank(s, d):
        from pyspark.sql.window import Window
        e = _table(s, d, "events")
        w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
        return (
            e.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= 3)
            .select("user_id", "event_id", "rank")
        )
    q["events_user_rank"] = events_user_rank

    def events_sessions(s, d):
        """Gap-based sessionization: a user's events split into
        sessions wherever the inter-event gap exceeds 30 minutes
        (lag + cumulative sum of gap-breaks over the per-user window —
        the standard scale shape: one shuffle by user_id, then
        window-local arithmetic).  Output: one row per session."""
        from pyspark.sql.window import Window
        # exact integer microseconds, tz-free: the session timezone is
        # pinned to UTC (pipeline/session.py), so the NTZ->timestamp
        # cast is the identity on the epoch value — same integers as
        # the oracle's epoch_us(ts) in every zone, DST included
        e = _table(s, d, "events").withColumn(
            "us", F.unix_micros(F.col("ts").cast("timestamp")))
        w = Window.partitionBy("user_id").orderBy("us", "event_id")
        gap = F.col("us") - F.lag("us").over(w)
        brk = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
        sess = (e.withColumn("brk", brk)
                .withColumn("session_no",
                            F.sum("brk").over(
                                w.rowsBetween(Window.unboundedPreceding, 0))))
        return (sess.groupBy("user_id", "session_no")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.min("event_id").alias("first_event"),
                     F.expr("(max(us) - min(us)) DIV 1000000")
                     .alias("duration_sec"))
                .select(F.col("user_id").cast("bigint").alias("user_id"),
                        F.col("session_no").cast("int").alias("session_no"),
                        F.col("n_events").cast("bigint").alias("n_events"),
                        F.col("first_event").cast("bigint").alias("first_event"),
                        F.col("duration_sec").cast("bigint")
                        .alias("duration_sec")))
    q["events_sessions"] = events_sessions

    def events_cube(s, d):
        """CUBE over (event_type, hour-of-day): every grouping-set
        combination incl. grand total; null dimensions surface as
        'ALL' / -1 so both engines hash the same rows."""
        e = _table(s, d, "events")
        base = e.select("event_type",
                        F.hour("ts").cast("int").alias("hod"),
                        F.round(F.col("value") * 100).cast("bigint")
                        .alias("cents"))
        return (base.cube("event_type", "hod")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("cents").alias("sum_value_x100"))
                .select(F.coalesce("event_type", F.lit("ALL"))
                        .alias("event_type"),
                        F.coalesce("hod", F.lit(-1)).cast("int").alias("hod"),
                        "n", "sum_value_x100"))
    q["events_cube"] = events_cube

    def events_hourly(s, d):
        # no display orderBy: the driver compares order-insensitively
        # and a global sort of the grouped output would only add a
        # measured exchange to the benched plan (VERDICT r3 #8)
        e = _table(s, d, "events")
        return (
            e.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.round(F.col("value") * 100).cast("bigint"))
                 .alias("sum_value_x100"))
        )
    q["events_hourly"] = events_hourly

    def sets_semi_anti(s, d):
        """Left-semi + anti join demo (SURVEY §2.7): customers with and
        without orders, as one unioned labeled count table."""
        c = _table(s, d, "customer")
        o = _table(s, d, "orders")
        with_o = c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi") \
                  .agg(F.count(F.lit(1)).alias("n")).select(
                      F.lit("with_orders").alias("label"), "n")
        without_o = c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti") \
                     .agg(F.count(F.lit(1)).alias("n")).select(
                         F.lit("without_orders").alias("label"), "n")
        return with_o.unionByName(without_o)
    q["sets_semi_anti"] = sets_semi_anti

    return q


def _simhash_sql(bits: int | None = None) -> str:
    from phonlp_spark.ops.dedup import SIMHASH_BITS
    bits = bits or SIMHASH_BITS
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits))
    recombine = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(bits))
    return f"""
WITH tok AS (
  SELECT doc_id AS key, unnest(string_split(text, ' ')) AS tok FROM documents
), h AS (
  SELECT key, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok
), agg AS (
  SELECT key, {bit_sums} FROM h GROUP BY key
)
SELECT key, CAST({recombine} AS BIGINT) AS simhash FROM agg
"""


def _simhash_pairs_sql(max_hamming: int = 3, n_bands: int = 4,
                       bits: int | None = None,
                       max_bucket_size: int = 100_000) -> str:
    """Banded SimHash near-dup pairs (mirrors ops.dedup.simhash_pairs,
    hot-bucket cap included)."""
    from phonlp_spark.ops.dedup import SIMHASH_BITS
    bits = bits or SIMHASH_BITS
    width = bits // n_bands
    mask = (1 << width) - 1
    bands = " UNION ALL ".join(
        f"SELECT key, {b} AS band, (simhash >> {b * width}) & {mask} AS chunk,"
        f" simhash FROM sig"
        for b in range(n_bands))
    return f"""
WITH sig AS ({_simhash_sql(bits)}),
bands0 AS ({bands}),
bhot AS (SELECT band, chunk FROM bands0 GROUP BY band, chunk
         HAVING count(*) > {max_bucket_size}),
bands AS (SELECT b.* FROM bands0 b WHERE NOT EXISTS
          (SELECT 1 FROM bhot h WHERE h.band = b.band AND h.chunk = b.chunk)),
cand AS (
  SELECT DISTINCT l.key AS a, r.key AS b, l.simhash AS sa, r.simhash AS sb
  FROM bands l JOIN bands r ON l.band = r.band AND l.chunk = r.chunk
  WHERE l.key < r.key
)
SELECT a, b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}"""


def _minhash_sql(with_pairs: bool, n_minhash: int | None = None,
                 band: int | None = None) -> str:
    from phonlp_spark.ops.dedup import LSH_BAND, N_MINHASH
    n_minhash = n_minhash or N_MINHASH
    band = band or LSH_BAND
    mh_cols = ", ".join(
        f"min(('0x' || substr(md5('{j}:' || shingle), 1, 15))::BIGINT) AS mh{j}"
        for j in range(n_minhash))
    base = f"""
WITH t AS (SELECT doc_id AS key, string_split(text, ' ') AS toks FROM documents),
sh AS (
  SELECT DISTINCT key,
         array_to_string(toks[i+1 : i+3], ' ') AS shingle
  FROM t, UNNEST(range(CAST(greatest(len(toks) - 3, 0) AS BIGINT) + 1)) AS u(i)
  WHERE len(toks) >= 3
),
sig AS (SELECT key, {mh_cols} FROM sh GROUP BY key)
"""
    if not with_pairs:
        return base + "SELECT * FROM sig"
    bands = " UNION ALL ".join(
        "SELECT key, {b} AS band, md5({cat}) AS bucket FROM sig".format(
            b=b,
            cat=" || '_' || ".join(
                f"CAST(mh{b * band + j} AS VARCHAR)" for j in range(band)))
        for b in range(n_minhash // band))
    return base + f""",
buck AS ({bands})
SELECT DISTINCT l.key AS a, r.key AS b
FROM buck l JOIN buck r ON l.band = r.band AND l.bucket = r.bucket
WHERE l.key < r.key
"""


def _lsh_verified_sql(min_pct: int = 5, n_minhash: int | None = None,
                      band: int | None = None) -> str:
    """LSH candidates -> exact Jaccard verification, one CTE chain
    (mirrors ops.dedup.lsh_verified_pairs; shares the shingle CTE
    between the minhash signatures and the verifier)."""
    from phonlp_spark.ops.dedup import LSH_BAND, N_MINHASH
    n_minhash = n_minhash or N_MINHASH
    band = band or LSH_BAND
    mh_cols = ", ".join(
        f"min(('0x' || substr(md5('{j}:' || shingle), 1, 15))::BIGINT) AS mh{j}"
        for j in range(n_minhash))
    bands = " UNION ALL ".join(
        "SELECT key, {b} AS band, md5({cat}) AS bucket FROM sig".format(
            b=b,
            cat=" || '_' || ".join(
                f"CAST(mh{b * band + j} AS VARCHAR)" for j in range(band)))
        for b in range(n_minhash // band))
    return f"""
WITH t AS (SELECT doc_id AS key, string_split(text, ' ') AS toks FROM documents),
sh AS (
  SELECT DISTINCT key,
         array_to_string(toks[i+1 : i+3], ' ') AS shingle
  FROM t, UNNEST(range(CAST(greatest(len(toks) - 3, 0) AS BIGINT) + 1)) AS u(i)
  WHERE len(toks) >= 3
),
sig AS (SELECT key, {mh_cols} FROM sh GROUP BY key),
buck AS ({bands}),
cand AS (
  SELECT DISTINCT l.key AS a, r.key AS b
  FROM buck l JOIN buck r ON l.band = r.band AND l.bucket = r.bucket
  WHERE l.key < r.key
),
hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 1000),
sh2 AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
sz AS (SELECT key, count(*) AS sz FROM sh2 GROUP BY key),
common AS (
  SELECT c.a, c.b, count(*) AS common
  FROM cand c
  JOIN sh2 l ON l.key = c.a
  JOIN sh2 r ON r.key = c.b AND r.shingle = l.shingle
  GROUP BY c.a, c.b
)
SELECT c.a, c.b, common, na.sz AS na, nb.sz AS nb
FROM common c JOIN sz na ON na.key = c.a JOIN sz nb ON nb.key = c.b
WHERE 100 * common >= {min_pct} * (na.sz + nb.sz - common)
"""


def _lsh_bucket_expr(vec_col: str = "embedding", planes: int | None = None,
                     seed: int = 7) -> str:
    from phonlp_spark.ops.similarity import LSH_PLANES, seeded_hyperplanes
    hp = seeded_hyperplanes(seed=seed, planes=planes or LSH_PLANES)
    terms = []
    for p in range(hp.shape[0]):
        arr = "[" + ", ".join(repr(float(x)) for x in hp[p]) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(CAST({vec_col} AS DOUBLE[]), {arr}) > 0 "
            f"THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


def _ivf_cell_expr(vec_col: str = "embedding") -> str:
    from phonlp_spark.ops.similarity import seeded_centroids
    import numpy as np
    cents = seeded_centroids()
    terms = []
    for c in cents:
        arr = "[" + ", ".join(repr(float(x)) for x in c) + "]"
        terms.append(
            f"list_dot_product(CAST({vec_col} AS DOUBLE[]), {arr}) - {float(np.dot(c, c) / 2.0)!r}")
    scores = "[" + ", ".join(terms) + "]"
    return (f"(list_position({scores}, list_max({scores})) - 1)")


_COS = ("list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
        " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
        " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))")


def _q_score(v: str, c: str) -> str:
    """2*v.c - |c|^2 on the x1000 integer grid — exact in doubles, so
    DuckDB's double equals Spark's long (similarity._scores_q)."""
    return (f"2*list_dot_product(CAST({v} AS DOUBLE[]), CAST({c} AS DOUBLE[]))"
            f" - list_dot_product(CAST({c} AS DOUBLE[]), CAST({c} AS DOUBLE[]))")


def _kmeans_ctes(p: str = "km", n_cells: int = 8, iters: int = 3,
                 sample_mod: int = 2, seed: int = 11) -> tuple[list[str], str]:
    """DuckDB CTE chain mirroring similarity.trained_centroids_rows: unrolled
    Lloyd's rounds on quantized vectors, floor(sum/count) means, empty
    cells keeping their previous centroid.  Returns (ctes, final_name)."""
    from phonlp_spark.ops.similarity import seeded_centroids
    init = [(c, [int(round(x * 1000)) for x in cent])
            for c, cent in enumerate(seeded_centroids(seed, n_cells))]
    vals = ", ".join(f"({c}, {lst}::BIGINT[])" for c, lst in init)
    ctes = [
        f"{p}_vq AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),"
        f" x -> CAST(round(x*1000) AS BIGINT)) AS vq FROM embeddings)",
        f"{p}_samp AS (SELECT vec_id, vq FROM {p}_vq WHERE vec_id % {sample_mod} = 0)",
        f"{p}_c0 AS (SELECT * FROM (VALUES {vals}) AS t(cell, cq))",
    ]
    for it in range(1, iters + 1):
        prev = f"{p}_c{it - 1}"
        ctes += [
            f"{p}_s{it} AS (SELECT s.vec_id, s.vq, c.cell,"
            f" {_q_score('s.vq', 'c.cq')} AS score FROM {p}_samp s CROSS JOIN {prev} c)",
            f"{p}_a{it} AS (SELECT vec_id, vq, cell FROM (SELECT *, row_number()"
            f" OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn"
            f" FROM {p}_s{it}) WHERE rn = 1)",
            f"{p}_u{it} AS (SELECT cell, i, CAST(floor(sum(v) / count(*)) AS BIGINT) AS cv"
            f" FROM (SELECT cell, unnest(vq) AS v, unnest(range(1, len(vq)+1)) AS i"
            f" FROM {p}_a{it}) GROUP BY cell, i)",
            f"{p}_n{it} AS (SELECT cell, list(cv ORDER BY i) AS cq FROM {p}_u{it} GROUP BY cell)",
            f"{p}_c{it} AS (SELECT c.cell, coalesce(n.cq, c.cq) AS cq"
            f" FROM {prev} c LEFT JOIN {p}_n{it} n USING (cell))",
        ]
    return ctes, f"{p}_c{iters}"


def _ivf_cells_ctes(p: str = "km") -> tuple[list[str], str]:
    """CTEs through trained-centroid corpus assignment; final CTE is
    {p}_cells (vec_id, cell)."""
    ctes, cfin = _kmeans_ctes(p)
    ctes += [
        f"{p}_cs AS (SELECT e.vec_id, c.cell, {_q_score('e.vq', 'c.cq')} AS score"
        f" FROM {p}_vq e CROSS JOIN {cfin} c)",
        f"{p}_cells AS (SELECT vec_id, cell FROM (SELECT *, row_number()"
        f" OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn FROM {p}_cs)"
        f" WHERE rn = 1)",
    ]
    return ctes, f"{p}_cells"


def _ivf_trained_ctes(p: str = "km", n_probe: int = 2, k: int = 5,
                      nq: int = 10) -> tuple[list[str], str]:
    """CTEs through trained-centroid corpus assignment, query probing
    (n_probe nearest cells) and exact cosine rescoring; final CTE is
    the ranked top-k table {p}_top (already filtered to rank <= k)."""
    ctes, _cells = _ivf_cells_ctes(p)
    cos = _COS.format(a="q.embedding", b="n.embedding")
    ctes += [
        f"{p}_probes AS (SELECT vec_id AS query_id, cell FROM (SELECT *, row_number()"
        f" OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn FROM {p}_cs"
        f" WHERE vec_id < {nq}) WHERE rn <= {n_probe})",
        f"{p}_cand AS (SELECT pr.query_id, ct.vec_id AS neighbor_id"
        f" FROM {p}_probes pr JOIN {p}_cells ct USING (cell)"
        f" WHERE ct.vec_id <> pr.query_id)",
        f"{p}_scored AS (SELECT c.query_id, c.neighbor_id, {cos} AS cos"
        f" FROM {p}_cand c JOIN embeddings q ON q.vec_id = c.query_id"
        f" JOIN embeddings n ON n.vec_id = c.neighbor_id)",
        f"{p}_top AS (SELECT query_id, neighbor_id, CAST(row_number()"
        f" OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank"
        f" FROM {p}_scored QUALIFY rank <= {k})",
    ]
    return ctes, f"{p}_top"


def _ann_variant_ctes(p: str, group_expr: str, group_name: str,
                      k: int = 5, nq: int = 10) -> tuple[list[str], str]:
    """Bucketed-ANN CTE chain ({group_expr} = LSH bucket or IVF cell
    expression) ending in the rank<=k table {p}_top."""
    cos = _COS.format(a="q.qvec", b="e.embedding")
    ctes = [
        f"{p}_b AS (SELECT vec_id, CAST({group_expr} AS INT) AS {group_name},"
        f" embedding FROM embeddings)",
        f"{p}_q AS (SELECT vec_id AS query_id, embedding AS qvec, {group_name}"
        f" FROM {p}_b WHERE vec_id < {nq})",
        f"{p}_scored AS (SELECT q.query_id, e.vec_id AS neighbor_id, {cos} AS cos"
        f" FROM {p}_b e JOIN {p}_q q ON e.{group_name} = q.{group_name}"
        f" AND e.vec_id <> q.query_id)",
        f"{p}_top AS (SELECT query_id, neighbor_id, CAST(row_number()"
        f" OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank"
        f" FROM {p}_scored QUALIFY rank <= {k})",
    ]
    return ctes, f"{p}_top"


def _lsh_multiprobe_ctes(p: str = "mp", n_tables: int = 4, planes: int = 6,
                         seed: int = 7, k: int = 5,
                         nq: int = 10) -> tuple[list[str], str]:
    """Multiprobe LSH CTEs: query-side buckets expanded to the full
    Hamming-1 neighborhood (xor with each single-bit mask plus 0) per
    table, corpus side unexpanded; OR-amplified + probed candidates
    deduped before exact rescoring (mirrors
    similarity.ann_topk_lsh_multiprobe)."""
    arms = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS table_id,"
        f" CAST({_lsh_bucket_expr(planes=planes, seed=seed + t)} AS INT) AS bucket"
        f" FROM embeddings"
        for t in range(n_tables))
    masks = ", ".join(str(m) for m in [0] + [1 << b for b in range(planes)])
    cos = _COS.format(a="q.embedding", b="n.embedding")
    ctes = [
        f"{p}_mb AS ({arms})",
        f"{p}_qb AS (SELECT vec_id AS query_id, table_id,"
        f" CAST(xor(bucket, m) AS INT) AS bucket"
        f" FROM {p}_mb, UNNEST([{masks}]) AS mm(m) WHERE vec_id < {nq})",
        f"{p}_cand AS (SELECT DISTINCT q.query_id, e.vec_id AS neighbor_id"
        f" FROM {p}_mb e JOIN {p}_qb q ON e.table_id = q.table_id"
        f" AND e.bucket = q.bucket AND e.vec_id <> q.query_id)",
        f"{p}_scored AS (SELECT c.query_id, c.neighbor_id, {cos} AS cos"
        f" FROM {p}_cand c JOIN embeddings q ON q.vec_id = c.query_id"
        f" JOIN embeddings n ON n.vec_id = c.neighbor_id)",
        f"{p}_top AS (SELECT query_id, neighbor_id, CAST(row_number()"
        f" OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank"
        f" FROM {p}_scored QUALIFY rank <= {k})",
    ]
    return ctes, f"{p}_top"


def _lsh_multi_ctes(p: str = "lm", n_tables: int = 4, planes: int = 6,
                    seed: int = 7, k: int = 5,
                    nq: int = 10) -> tuple[list[str], str]:
    """Multi-table LSH CTEs: union of per-table bucket assignments,
    OR-amplified candidates deduped before exact rescoring; ends in the
    rank<=k table {p}_top (mirrors similarity.ann_topk_lsh_multi)."""
    from phonlp_spark.ops.similarity import seeded_hyperplanes  # noqa: F401
    arms = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS table_id,"
        f" CAST({_lsh_bucket_expr(planes=planes, seed=seed + t)} AS INT) AS bucket"
        f" FROM embeddings"
        for t in range(n_tables))
    cos = _COS.format(a="q.embedding", b="n.embedding")
    ctes = [
        f"{p}_mb AS ({arms})",
        f"{p}_qb AS (SELECT vec_id AS query_id, table_id, bucket FROM {p}_mb"
        f" WHERE vec_id < {nq})",
        f"{p}_cand AS (SELECT DISTINCT q.query_id, e.vec_id AS neighbor_id"
        f" FROM {p}_mb e JOIN {p}_qb q ON e.table_id = q.table_id"
        f" AND e.bucket = q.bucket AND e.vec_id <> q.query_id)",
        f"{p}_scored AS (SELECT c.query_id, c.neighbor_id, {cos} AS cos"
        f" FROM {p}_cand c JOIN embeddings q ON q.vec_id = c.query_id"
        f" JOIN embeddings n ON n.vec_id = c.neighbor_id)",
        f"{p}_top AS (SELECT query_id, neighbor_id, CAST(row_number()"
        f" OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank"
        f" FROM {p}_scored QUALIFY rank <= {k})",
    ]
    return ctes, f"{p}_top"


def _ann_recall_sql(k: int = 5, nq: int = 10) -> str:
    """recall@k of every approximate ANN variant against the exact
    cosine top-k, as one hash-stable summary table."""
    cos = _COS.format(a="q.qvec", b="e.embedding")
    ctes = [
        f"x_q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings"
        f" WHERE vec_id < {nq})",
        f"x_scored AS (SELECT q.query_id, e.vec_id AS neighbor_id, {cos} AS cos"
        f" FROM embeddings e, x_q q WHERE e.vec_id <> q.query_id)",
        f"x_top AS (SELECT query_id, neighbor_id, CAST(row_number()"
        f" OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank"
        f" FROM x_scored QUALIFY rank <= {k})",
    ]
    variants = []
    for p, mname, expr, gname in (
            ("l4", "lsh_p4", _lsh_bucket_expr(), "bucket"),
            ("l6", "lsh_p6", _lsh_bucket_expr(planes=6), "bucket"),
            ("iv", "ivf_seeded", _ivf_cell_expr(), "cell")):
        c, top = _ann_variant_ctes(p, expr, gname, k, nq)
        ctes += c
        variants.append((mname, top))
    mctes, mtop = _lsh_multi_ctes("lm", n_tables=4, planes=6, k=k, nq=nq)
    ctes += mctes
    variants.append(("lsh_multi", mtop))
    pctes, ptop = _lsh_multiprobe_ctes("mp", n_tables=4, planes=6, k=k, nq=nq)
    ctes += pctes
    variants.append(("lsh_multiprobe", ptop))
    tctes, ttop = _ivf_trained_ctes("km", n_probe=2, k=k, nq=nq)
    ctes += tctes
    variants.append(("ivf_trained", ttop))
    arms = "\nUNION ALL\n".join(
        f"SELECT '{m}' AS method, (SELECT count(*) FROM x_top e"
        f" JOIN {top} a ON e.query_id = a.query_id"
        f" AND e.neighbor_id = a.neighbor_id) AS hits"
        for m, top in variants)
    return ("WITH " + ",\n".join(ctes) + ",\n"
            "tot AS (SELECT count(*) AS total FROM x_top),\n"
            "m AS (" + arms + ")\n"
            "SELECT method, CAST(hits AS BIGINT) AS hits,"
            " CAST(total AS BIGINT) AS total,"
            " CAST(hits * 1000 // total AS INT) AS recall_permille"
            " FROM m, tot")


def oracle_sql() -> dict[str, str]:
    from phonlp_spark.ops.textstats import PUNCT_RE, STOP_EN, STOP_VI

    en_list = "[" + ", ".join(f"'{w}'" for w in STOP_EN) + "]"
    vi_list = "[" + ", ".join(f"'{w}'" for w in STOP_VI) + "]"
    stop_list = "[" + ", ".join(f"'{w}'" for w in STOP_EN + STOP_VI) + "]"

    o: dict[str, str] = {}

    o["kg_sentences"] = _SENT_SQL + "SELECT doc_id, sent_id, sentence FROM s"

    o["kg_doc_stats"] = f"""
SELECT doc_id,
       CAST(greatest(ceil(len(string_split(text,' '))/{SENT_TOKENS}.0), 1) AS INT) AS n_sentences,
       CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
FROM documents"""

    o["kg_vocab"] = _SENT_SQL + """
, tok AS (SELECT unnest(string_split(sentence, ' ')) AS token FROM s),
f AS (SELECT token, count(*) AS freq FROM tok GROUP BY token HAVING count(*) >= 7)
SELECT token, freq,
       CAST(row_number() OVER (ORDER BY freq DESC, token) AS INT) AS rank
FROM f"""

    o["kg_components"] = """
WITH RECURSIVE mx AS (SELECT max(doc_id) AS m FROM documents),
e AS (
  SELECT doc_id AS s, doc_id + 7 AS d FROM documents, mx
  WHERE doc_id % 3 = 0 AND doc_id + 7 <= mx.m
),
sym AS (SELECT s, d FROM e UNION SELECT d, s FROM e),
reach(n, c) AS (
  SELECT s, s FROM sym
  UNION
  SELECT sym.d, reach.c FROM reach JOIN sym ON sym.s = reach.n
),
lbl AS (SELECT n, min(c) AS c FROM reach GROUP BY n)
SELECT doc_id, CAST(coalesce(lbl.c, doc_id) AS BIGINT) AS component
FROM documents LEFT JOIN lbl ON lbl.n = doc_id"""

    _pg = _SENT_SQL + """
, tok0 AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, sent_id,
         unnest(string_split(sentence, ' ')) AS token,
         unnest(range(1, len(string_split(sentence, ' ')) + 1)) AS token_id
  FROM s
), tok AS (
  SELECT doc_id, sent_id, CAST(token_id AS INT) AS token_id,
         'T' || CAST(('0x' || substr(md5(token), 1, 1))::BIGINT % 4 AS VARCHAR) AS ptag,
         'T' || CAST(('0x' || substr(md5('g:' || token), 1, 1))::BIGINT % 4 AS VARCHAR) AS gtag
  FROM tok0
)
"""

    o["score_token_prf"] = _pg + """
, guessed AS (SELECT ptag AS tag, count(*) AS guessed FROM tok GROUP BY ptag),
goldc AS (SELECT gtag AS tag, count(*) AS gold FROM tok GROUP BY gtag),
correct AS (SELECT ptag AS tag, count(*) AS correct FROM tok WHERE ptag = gtag GROUP BY ptag)
SELECT t.tag, coalesce(guessed, 0) AS guessed, coalesce(gold, 0) AS gold,
       coalesce(correct, 0) AS correct,
       CAST(coalesce(correct, 0) * 1000 // greatest(coalesce(guessed, 0), 1) AS INT) AS precision_permille,
       CAST(coalesce(correct, 0) * 1000 // greatest(coalesce(gold, 0), 1) AS INT) AS recall_permille
FROM (SELECT tag FROM guessed UNION SELECT tag FROM goldc) t
LEFT JOIN guessed USING (tag) LEFT JOIN goldc USING (tag) LEFT JOIN correct USING (tag)"""

    o["score_upos_aligned"] = _pg + """
SELECT CAST(count(*) AS BIGINT) AS n_gold,
       CAST(count(*) AS BIGINT) AS n_system,
       CAST(count(*) AS BIGINT) AS n_aligned,
       CAST(sum(CASE WHEN ptag = gtag THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(sum(CASE WHEN ptag = gtag THEN 1 ELSE 0 END) * 1000
            // greatest(count(*), 1) AS INT) AS precision_permille,
       CAST(sum(CASE WHEN ptag = gtag THEN 1 ELSE 0 END) * 1000
            // greatest(count(*), 1) AS INT) AS recall_permille,
       CAST(sum(CASE WHEN ptag = gtag THEN 1 ELSE 0 END) * 2000
            // greatest(2 * count(*), 1) AS INT) AS f1_permille,
       CAST(sum(CASE WHEN ptag = gtag THEN 1 ELSE 0 END) * 1000
            // greatest(count(*), 1) AS INT) AS aligned_acc_permille
FROM tok"""

    o["score_pos_acc"] = _pg + """
SELECT count(*) AS n_tokens,
       CAST(sum(CASE WHEN ptag = gtag THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(sum(CASE WHEN ptag = gtag THEN 1 ELSE 0 END) * 1000
            // greatest(count(*), 1) AS INT) AS accuracy_permille
FROM tok"""

    # closed form: system splits every 3rd gold token (len>=2) in half,
    # so n_aligned = n_gold - n_split and n_system = n_gold + n_split
    o["score_aligned_tokens"] = _SENT_SQL + """
, tok AS (
  SELECT unnest(string_split(sentence, ' ')) AS word,
         unnest(range(1, len(string_split(sentence, ' ')) + 1)) AS pos
  FROM s
),
c AS (SELECT count(*) AS n_gold,
             sum(CASE WHEN pos % 3 = 0 AND length(word) >= 2 THEN 1 ELSE 0 END) AS n_split
      FROM tok)
SELECT CAST(n_gold AS BIGINT) AS n_gold,
       CAST(n_gold + n_split AS BIGINT) AS n_system,
       CAST(n_gold - n_split AS BIGINT) AS n_aligned
FROM c"""

    _rels_lit = "[" + ", ".join(f"'{r}'" for r in _CLAS_RELS) + "]"
    _content_lit = "(" + ", ".join(
        f"'{r}'" for r in _CLAS_RELS if r in (
            "nsubj", "obj", "nmod", "amod", "advmod")) + ")"
    o["score_clas"] = _SENT_SQL + f"""
, tok0 AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, sent_id,
         unnest(string_split(sentence, ' ')) AS word,
         unnest(range(1, len(string_split(sentence, ' ')) + 1)) AS token_id
  FROM s
), ht AS (
  SELECT doc_id, sent_id, CAST(token_id AS INT) AS token_id,
         ('0x' || substr(md5('h:' || doc_id || ':' || CAST(sent_id AS VARCHAR)
           || ':' || CAST(token_id AS VARCHAR)), 1, 15))::BIGINT
           % greatest(token_id - 1, 1) AS g_off,
         CAST(('0x' || substr(md5('r:' || doc_id || ':' || CAST(sent_id AS VARCHAR)
           || ':' || CAST(token_id AS VARCHAR)), 1, 15))::BIGINT
           % {len(_CLAS_RELS)} AS INT) AS g_ri,
         ('0x' || substr(md5('ph:' || doc_id || ':' || CAST(sent_id AS VARCHAR)
           || ':' || CAST(token_id AS VARCHAR)), 1, 15))::BIGINT % 7 AS ph,
         ('0x' || substr(md5('pr:' || doc_id || ':' || CAST(sent_id AS VARCHAR)
           || ':' || CAST(token_id AS VARCHAR)), 1, 15))::BIGINT % 5 AS pr
  FROM tok0
), lab AS (
  SELECT token_id,
         CASE WHEN token_id = 1 THEN 0 ELSE 1 + g_off END AS g_head,
         {_rels_lit}[g_ri + 1] AS g_rel,
         CASE WHEN token_id > 2 AND ph = 0
              THEN 1 + (g_off + 1) % (token_id - 1)
              WHEN token_id = 1 THEN 0 ELSE 1 + g_off END AS s_head,
         CASE WHEN pr = 0 THEN {_rels_lit}[((g_ri + 1) % {len(_CLAS_RELS)}) + 1]
              ELSE {_rels_lit}[g_ri + 1] END AS s_rel
  FROM ht
), c AS (
  SELECT sum(CASE WHEN g_rel IN {_content_lit} THEN 1 ELSE 0 END) AS n_gold,
         sum(CASE WHEN s_rel IN {_content_lit} THEN 1 ELSE 0 END) AS n_system,
         sum(CASE WHEN g_rel IN {_content_lit} THEN 1 ELSE 0 END) AS n_aligned,
         sum(CASE WHEN g_rel IN {_content_lit} AND g_head = s_head
                   AND g_rel = s_rel THEN 1 ELSE 0 END) AS n_correct
  FROM lab
)
SELECT CAST(n_gold AS BIGINT) AS n_gold,
       CAST(n_system AS BIGINT) AS n_system,
       CAST(n_aligned AS BIGINT) AS n_aligned,
       CAST(n_correct AS BIGINT) AS n_correct,
       CAST(n_correct * 1000 // greatest(n_system, 1) AS INT) AS precision_permille,
       CAST(n_correct * 1000 // greatest(n_gold, 1) AS INT) AS recall_permille,
       CAST(n_correct * 2000 // greatest(n_gold + n_system, 1) AS INT) AS f1_permille
FROM c"""

    # unfiltered aligned UAS/LAS over the same synthetic trees: the
    # identity alignment makes arc correctness g_head = s_head exactly
    _clas_prefix, _clas_agg = o["score_clas"].split("), c AS (", 1)
    o["score_uas_las"] = _clas_prefix + """)
, u AS (
  SELECT count(*) AS n_aligned,
         sum(CASE WHEN g_head = s_head THEN 1 ELSE 0 END) AS n_ua,
         sum(CASE WHEN g_head = s_head AND g_rel = s_rel THEN 1 ELSE 0 END) AS n_la
  FROM lab
)
SELECT CAST(n_aligned AS BIGINT) AS n_aligned,
       CAST(n_ua * 1000 // greatest(n_aligned, 1) AS INT) AS uas_permille,
       CAST(n_la * 1000 // greatest(n_aligned, 1) AS INT) AS las_permille
FROM u"""

    # MLAS/BLEX over the synthetic trees + md5 word-derived attrs:
    # identity alignment ⇒ head correctness is plain equality, and the
    # functional-children list comparison reduces to a keyed FULL JOIN
    # with no mismatch rows (identity child ids, lists sorted by word
    # order on both sides).  The oracle builds feats PRE-NORMALIZED
    # (Gender sorts before Number, Typo=Yes dropped) — the Spark side
    # feeds raw unsorted strings through the operator's
    # load-normalization, so agreement checks that path too.
    _rels10 = _rels_lit
    _func_lit = "('case', 'det', 'cc', 'mark')"
    _hw = ("('0x' || substr(md5('{p}' || word), 1, 15))::BIGINT % {m}")
    _hk = ("('0x' || substr(md5('{p}' || doc_id || ':' ||"
           " CAST(sent_id AS VARCHAR) || ':' ||"
           " CAST(token_id AS VARCHAR)), 1, 15))::BIGINT % {m}")
    o["score_mlas_blex"] = _SENT_SQL + f"""
, tok0 AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, sent_id,
         unnest(string_split(sentence, ' ')) AS word,
         unnest(range(1, len(string_split(sentence, ' ')) + 1)) AS token_id
  FROM s
), base AS (
  SELECT doc_id, sent_id, CAST(token_id AS INT) AS token_id, word,
         {_hk.format(p='h:', m='greatest(token_id - 1, 1)')} AS g_off,
         CAST({_hk.format(p='r:', m=len(_CLAS_RELS))} AS INT) AS g_ri,
         {_hk.format(p='ph:', m=7)} AS ph,
         {_hk.format(p='pr:', m=5)} AS pr,
         {_hw.format(p='u:', m=3)} AS hu,
         {_hw.format(p='pu:', m=6)} AS hpu,
         {_hw.format(p='n:', m=2)} AS hn,
         {_hw.format(p='pf:', m=5)} AS hpf,
         {_hw.format(p='gv:', m=2)} AS hgv,
         {_hw.format(p='g:', m=3)} AS hg,
         {_hw.format(p='l:', m=7)} AS hl,
         {_hw.format(p='pl:', m=4)} AS hpl
  FROM tok0
), lab AS (
  SELECT doc_id, sent_id, token_id, word,
         CASE WHEN token_id = 1 THEN 0 ELSE 1 + g_off END AS g_head,
         {_rels10}[g_ri + 1] AS g_rel,
         CASE WHEN token_id > 2 AND ph = 0
              THEN 1 + (g_off + 1) % (token_id - 1)
              WHEN token_id = 1 THEN 0 ELSE 1 + g_off END AS s_head,
         CASE WHEN pr = 0 THEN {_rels10}[((g_ri + 1) % {len(_CLAS_RELS)}) + 1]
              ELSE {_rels10}[g_ri + 1] END AS s_rel,
         'U' || CAST(hu AS VARCHAR) AS g_upos,
         CASE WHEN hpu = 0 THEN 'U' || CAST((hu + 1) % 3 AS VARCHAR)
              ELSE 'U' || CAST(hu AS VARCHAR) END AS s_upos,
         (CASE WHEN hg = 0 THEN (CASE WHEN hgv = 0 THEN 'Gender=Masc'
                                      ELSE 'Gender=Fem' END) || '|'
               ELSE '' END)
         || (CASE WHEN hn = 0 THEN 'Number=Sing'
                  ELSE 'Number=Plur' END) AS g_feats,
         (CASE WHEN hg = 0 THEN (CASE WHEN hgv = 0 THEN 'Gender=Masc'
                                      ELSE 'Gender=Fem' END) || '|'
               ELSE '' END)
         || (CASE WHEN hpf = 0
                  THEN (CASE WHEN hn = 0 THEN 'Number=Plur'
                             ELSE 'Number=Sing' END)
                  ELSE (CASE WHEN hn = 0 THEN 'Number=Sing'
                             ELSE 'Number=Plur' END) END) AS s_feats,
         CASE WHEN hl = 0 THEN '_' ELSE lower(word) END AS g_lemma,
         CASE WHEN hpl = 0 THEN lower(word) || 'x'
              ELSE lower(word) END AS s_lemma
  FROM base
), gch AS (
  SELECT doc_id, sent_id, g_head AS parent, token_id AS cid,
         g_rel AS rel, g_upos AS up, g_feats AS ft
  FROM lab WHERE g_rel IN {_func_lit}
), sch AS (
  SELECT doc_id, sent_id, s_head AS parent, token_id AS cid,
         s_rel AS rel, s_upos AS up, s_feats AS ft
  FROM lab WHERE s_rel IN {_func_lit}
), fcbad AS (
  SELECT DISTINCT coalesce(g.doc_id, s2.doc_id) AS doc_id,
         coalesce(g.sent_id, s2.sent_id) AS sent_id,
         coalesce(g.parent, s2.parent) AS parent
  FROM gch g FULL JOIN sch s2
    ON g.doc_id = s2.doc_id AND g.sent_id = s2.sent_id
   AND g.parent = s2.parent AND g.cid = s2.cid
  WHERE g.cid IS NULL OR s2.cid IS NULL
     OR g.rel <> s2.rel OR g.up <> s2.up OR g.ft <> s2.ft
), scored AS (
  SELECT l.*, (fb.parent IS NULL) AS fc_ok
  FROM lab l LEFT JOIN fcbad fb
    ON fb.doc_id = l.doc_id AND fb.sent_id = l.sent_id
   AND fb.parent = l.token_id
), c AS (
  SELECT
    sum(CASE WHEN g_rel IN {_content_lit} THEN 1 ELSE 0 END) AS ng,
    sum(CASE WHEN s_rel IN {_content_lit} THEN 1 ELSE 0 END) AS ns,
    sum(CASE WHEN g_rel IN {_content_lit} AND g_head = s_head
              AND g_rel = s_rel AND g_upos = s_upos
              AND g_feats = s_feats AND fc_ok
             THEN 1 ELSE 0 END) AS ncm,
    sum(CASE WHEN g_rel IN {_content_lit} AND g_head = s_head
              AND g_rel = s_rel
              AND (g_lemma = '_' OR g_lemma = s_lemma)
             THEN 1 ELSE 0 END) AS ncb
  FROM scored
)
SELECT 'mlas' AS metric,
       CAST(ng AS BIGINT) AS n_gold, CAST(ns AS BIGINT) AS n_system,
       CAST(ng AS BIGINT) AS n_aligned, CAST(ncm AS BIGINT) AS n_correct,
       CAST(ncm * 1000 // greatest(ns, 1) AS INT) AS precision_permille,
       CAST(ncm * 1000 // greatest(ng, 1) AS INT) AS recall_permille,
       CAST(ncm * 2000 // greatest(ng + ns, 1) AS INT) AS f1_permille
FROM c
UNION ALL
SELECT 'blex' AS metric,
       CAST(ng AS BIGINT), CAST(ns AS BIGINT),
       CAST(ng AS BIGINT), CAST(ncb AS BIGINT),
       CAST(ncb * 1000 // greatest(ns, 1) AS INT),
       CAST(ncb * 1000 // greatest(ng, 1) AS INT),
       CAST(ncb * 2000 // greatest(ng + ns, 1) AS INT)
FROM c"""

    # Span-sequence invariant: every input document must reassemble to an
    # identical span sequence after the pipeline, so the invariant count
    # equals the table's row count exactly.
    o["kg_span_invariant"] = """
SELECT count(*) AS n_docs_invariant FROM documents"""

    # closed forms for 1-token sentences: the oracle touches NO kernel
    # output — head 0 (single-root MST), valid-tag counts == row count
    # (special-mask), tag combos == distinct tokens (per-token
    # determinism of a context-free encoder)
    o["kg_annotations_degenerate"] = _SENT_SQL + """
, ft AS (SELECT string_split(sentence, ' ')[1] AS tok FROM s)
SELECT CAST(count(*) AS BIGINT) AS n_sentences,
       CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct_tokens,
       CAST(count(DISTINCT tok) AS BIGINT) AS n_tag_combos,
       CAST(count(*) AS BIGINT) AS n_head_root,
       CAST(count(*) AS BIGINT) AS n_valid_upos,
       CAST(count(*) AS BIGINT) AS n_valid_ner,
       CAST(count(*) AS BIGINT) AS n_valid_deprel
FROM ft"""

    o["kg_mentions_degenerate"] = _SENT_SQL + """
SELECT CAST(count(*) AS BIGINT) AS n_sentences,
       CAST(0 AS BIGINT) AS n_multi_mention,
       CAST(0 AS BIGINT) AS n_bad_span,
       CAST(0 AS BIGINT) AS n_text_mismatch,
       CAST(0 AS BIGINT) AS n_bad_type,
       CAST(0 AS BIGINT) AS n_triples,
       CAST(0 AS BIGINT) AS n_inconsistent_tokens
FROM s"""

    # closed forms for 2-token sentences (see the queries() docstring):
    # one in-sentence arc ==> <=1 triple, always the nmod rule, args
    # drawn from the pair, per-pair deterministic — every violation
    # column is the constant 0, anchors are input-side counts
    o["kg_triples_degenerate"] = _SENT_SQL + """
, p AS (
  SELECT string_split(sentence, ' ')[1] AS t1,
         string_split(sentence, ' ')[2] AS t2
  FROM s
  WHERE len(string_split(sentence, ' ')) >= 2
    AND string_split(sentence, ' ')[1] <> string_split(sentence, ' ')[2]
)
SELECT CAST(count(*) AS BIGINT) AS n_sentences,
       CAST(0 AS BIGINT) AS n_multi_triple,
       CAST(0 AS BIGINT) AS n_triple_wo_mentions,
       CAST(0 AS BIGINT) AS n_bad_pred,
       CAST(0 AS BIGINT) AS n_bad_args,
       CAST(0 AS BIGINT) AS n_bad_type,
       CAST(0 AS BIGINT) AS n_inconsistent_pairs,
       CAST(count(DISTINCT t1 || chr(31) || t2) AS BIGINT) AS n_distinct_pairs
FROM p"""

    # graph referential integrity: all violation counts are 0 by the
    # build_graph construction (triple args ARE mention surfaces, so
    # every canonical_id surfaces in nodes; ids are 'E'/'X' + md5[:12])
    o["kg_edges_integrity"] = """
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(0 AS BIGINT) AS n_subj_missing,
       CAST(0 AS BIGINT) AS n_obj_missing,
       CAST(0 AS BIGINT) AS n_bad_entity_id,
       CAST(0 AS BIGINT) AS n_null_canonical,
       CAST(0 AS BIGINT) AS n_dup_entity,
       CAST(0 AS BIGINT) AS n_bad_edge_id
FROM documents"""

    # linking values on dictionary-hit surfaces: stage 1 must equal the
    # declaratively rebuilt dictionary map, so every violation column
    # is the constant 0; anchors are input-side + a literal
    o["kg_linking_degenerate"] = f"""
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST({N_ALIAS_NAMES} AS BIGINT) AS n_alias_names,
       CAST(0 AS BIGINT) AS n_wrong_id,
       CAST(0 AS BIGINT) AS n_non_dict_id,
       CAST(0 AS BIGINT) AS n_null_id
FROM documents"""

    o["dedup_exact"] = """
SELECT min(doc_id) AS keep_id, count(*) AS n_dupes
FROM documents GROUP BY md5(text)"""

    o["dedup_jaccard"] = """
WITH t AS (SELECT doc_id AS key, string_split(text, ' ') AS toks FROM documents),
sh AS (
  SELECT DISTINCT key, array_to_string(toks[i+1 : i+3], ' ') AS shingle
  FROM t, UNNEST(range(CAST(greatest(len(toks) - 3, 0) AS BIGINT) + 1)) AS u(i)
  WHERE len(toks) >= 3
),
hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 1000),
sh2 AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
sz AS (SELECT key, count(*) AS sz FROM sh2 GROUP BY key),
pairs AS (
  SELECT l.key AS a, r.key AS b, count(*) AS common
  FROM sh2 l JOIN sh2 r ON l.shingle = r.shingle AND l.key < r.key
  GROUP BY l.key, r.key
)
SELECT a, b, common, na.sz AS na, nb.sz AS nb
FROM pairs JOIN sz na ON na.key = a JOIN sz nb ON nb.key = b
WHERE 100 * common >= 5 * (na.sz + nb.sz - common)"""

    o["dedup_minhash_sigs"] = _minhash_sql(with_pairs=False)
    o["dedup_lsh_pairs"] = f"""
SELECT 'base' AS variant, a, b FROM ({_minhash_sql(with_pairs=True)})
UNION ALL
SELECT 'wide' AS variant, a, b
FROM ({_minhash_sql(with_pairs=True, n_minhash=32, band=4)})"""
    o["dedup_simhash"] = _simhash_sql()
    o["dedup_simhash_pairs"] = _simhash_pairs_sql(max_hamming=3, n_bands=4, bits=32)
    o["dedup_lsh_verified"] = _lsh_verified_sql(min_pct=5)

    o["ann_cosine_topk"] = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_dot_product(CAST(q.qvec AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(q.qvec AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))) AS cos
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
),
r AS (SELECT query_id, neighbor_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
      FROM scored)
SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5"""

    o["ann_lsh_buckets"] = f"""
SELECT vec_id, CAST({_lsh_bucket_expr()} AS INT) AS bucket FROM embeddings"""

    _lsh_p4_sql = f"""
WITH b AS (SELECT vec_id, CAST({_lsh_bucket_expr()} AS INT) AS bucket, embedding FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qvec, bucket FROM b WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_COS.format(a='q.qvec', b='e.embedding')} AS cos
  FROM b e JOIN q ON e.bucket = q.bucket AND e.vec_id <> q.query_id
),
r AS (SELECT query_id, neighbor_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
      FROM scored)
SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5"""

    _lsh_p6_sql = f"""
WITH b AS (SELECT vec_id, CAST({_lsh_bucket_expr(planes=6)} AS INT) AS bucket, embedding FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qvec, bucket FROM b WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_COS.format(a='q.qvec', b='e.embedding')} AS cos
  FROM b e JOIN q ON e.bucket = q.bucket AND e.vec_id <> q.query_id
),
r AS (SELECT query_id, neighbor_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
      FROM scored)
SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5"""

    _lm_ctes, _lm_top = _lsh_multi_ctes("lm", n_tables=4, planes=6)
    _lsh_multi_sql = ("WITH " + ",\n".join(_lm_ctes)
                      + f"\nSELECT query_id, neighbor_id, rank FROM {_lm_top}")
    _mp_ctes, _mp_top = _lsh_multiprobe_ctes("mp", n_tables=4, planes=6)
    _lsh_mprobe_sql = ("WITH " + ",\n".join(_mp_ctes)
                       + f"\nSELECT query_id, neighbor_id, rank FROM {_mp_top}")

    o["ann_lsh_topk"] = f"""
SELECT 'p4' AS variant, * FROM ({_lsh_p4_sql})
UNION ALL
SELECT 'p6' AS variant, * FROM ({_lsh_p6_sql})
UNION ALL
SELECT 'multi' AS variant, * FROM ({_lsh_multi_sql})
UNION ALL
SELECT 'multiprobe' AS variant, * FROM ({_lsh_mprobe_sql})"""

    _km_ctes, _km_fin = _kmeans_ctes()
    _ivf_cells_trained_sql = (
        "WITH " + ",\n".join(_km_ctes)
        + f""",
cs AS (SELECT e.vec_id, c.cell, {_q_score('e.vq', 'c.cq')} AS score
       FROM km_vq e CROSS JOIN {_km_fin} c)
SELECT vec_id, CAST(cell AS INT) AS cell
FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
      FROM cs)
WHERE rn = 1""")

    o["ann_ivf_cells"] = f"""
SELECT 'seeded' AS variant, vec_id, CAST({_ivf_cell_expr()} AS INT) AS cell
FROM embeddings
UNION ALL
SELECT 'trained' AS variant, vec_id, cell FROM ({_ivf_cells_trained_sql})"""

    _ivf_seeded_topk_sql = f"""
WITH b AS (SELECT vec_id, CAST({_ivf_cell_expr()} AS INT) AS cell, embedding FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qvec, cell FROM b WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_COS.format(a='q.qvec', b='e.embedding')} AS cos
  FROM b e JOIN q ON e.cell = q.cell AND e.vec_id <> q.query_id
),
r AS (SELECT query_id, neighbor_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
      FROM scored)
SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5"""

    _tr_ctes, _tr_top = _ivf_trained_ctes("km", n_probe=2, k=5, nq=10)
    _ivf_trained_topk_sql = (
        "WITH " + ",\n".join(_tr_ctes)
        + f"\nSELECT query_id, neighbor_id, rank FROM {_tr_top}")

    o["ann_ivf_topk"] = f"""
SELECT 'seeded' AS variant, * FROM ({_ivf_seeded_topk_sql})
UNION ALL
SELECT 'trained' AS variant, * FROM ({_ivf_trained_topk_sql})"""

    # embedding near-dup variants, each with the hot-bucket cap
    # mirrored (groups > 100000 rows leave candidate generation —
    # never triggered at sandbox scale, mirrored for parity at any)
    _embcos = _COS.format(a="l.embedding", b="r.embedding")
    _emb_lsh_sql = f"""
WITH b0 AS (SELECT vec_id, CAST({_lsh_bucket_expr()} AS INT) AS bucket, embedding FROM embeddings),
bhot AS (SELECT bucket FROM b0 GROUP BY bucket HAVING count(*) > 100000),
b AS (SELECT b0.* FROM b0 WHERE bucket NOT IN (SELECT bucket FROM bhot)),
pairs AS (
  SELECT l.vec_id AS a, r.vec_id AS b, {_embcos} AS cos
  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
)
SELECT a, b, CAST(round(cos * 1000) AS INT) AS cos_x1000
FROM pairs WHERE round(cos * 1000) >= 300"""

    _mb_arms = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS table_id,"
        f" CAST({_lsh_bucket_expr(planes=6, seed=7 + t)} AS INT) AS bucket"
        f" FROM embeddings" for t in range(4))
    _emb_multi_sql = f"""
WITH mb0 AS ({_mb_arms}),
mhot AS (SELECT table_id, bucket FROM mb0 GROUP BY table_id, bucket
         HAVING count(*) > 100000),
mb AS (SELECT m.* FROM mb0 m WHERE NOT EXISTS
       (SELECT 1 FROM mhot h
        WHERE h.table_id = m.table_id AND h.bucket = m.bucket)),
cand AS (
  SELECT DISTINCT ml.vec_id AS a, mr.vec_id AS b
  FROM mb ml JOIN mb mr ON ml.table_id = mr.table_id AND ml.bucket = mr.bucket
  WHERE ml.vec_id < mr.vec_id
)
SELECT c.a, c.b, CAST(round(({_embcos}) * 1000) AS INT) AS cos_x1000
FROM cand c JOIN embeddings l ON l.vec_id = c.a
JOIN embeddings r ON r.vec_id = c.b
WHERE round(({_embcos}) * 1000) >= 300"""

    # trained-IVF near-dup candidates with n_probe=2 neighbor-cell
    # probing (mirrors similarity.embedding_near_dups_ivf): each vector
    # joins pair generation in its TWO nearest cells, candidates
    # deduped before the exact cosine; the hot-cell cap applies to the
    # probed assignment
    _ivfc_ctes, _ivfc_cells = _ivf_cells_ctes("km")
    _emb_ivf_sql = (
        "WITH " + ",\n".join(_ivfc_ctes) + f""",
pc AS (SELECT vec_id, cell FROM (SELECT *, row_number()
       OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn FROM km_cs)
       WHERE rn <= 2),
chot AS (SELECT cell FROM pc GROUP BY cell HAVING count(*) > 100000),
pg AS (SELECT * FROM pc WHERE cell NOT IN (SELECT cell FROM chot)),
cand AS (SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
         FROM pg l JOIN pg r ON l.cell = r.cell AND l.vec_id < r.vec_id)
SELECT c.a, c.b, CAST(round(({_embcos}) * 1000) AS INT) AS cos_x1000
FROM cand c JOIN embeddings l ON l.vec_id = c.a
JOIN embeddings r ON r.vec_id = c.b
WHERE round(({_embcos}) * 1000) >= 300""")

    o["dedup_embedding"] = f"""
SELECT 'lsh_p4' AS variant, * FROM ({_emb_lsh_sql})
UNION ALL
SELECT 'lsh_multi' AS variant, * FROM ({_emb_multi_sql})
UNION ALL
SELECT 'ivf_trained' AS variant, * FROM ({_emb_ivf_sql})"""

    o["quality_recall"] = f"""
SELECT 'ann' AS family, method, hits, total, recall_permille
FROM ({_ann_recall_sql()})
UNION ALL
SELECT 'dedup_text' AS family, 'lsh_verified' AS method,
       CAST(v.c AS BIGINT) AS hits, CAST(j.c AS BIGINT) AS total,
       CAST(v.c * 1000 // greatest(j.c, 1) AS INT) AS recall_permille
FROM (SELECT count(*) AS c FROM ({_lsh_verified_sql(min_pct=5)})) v,
     (SELECT count(*) AS c FROM ({o['dedup_jaccard']})) j
UNION ALL
SELECT 'dedup_embedding' AS family, m.method,
       CAST(m.hits AS BIGINT) AS hits, CAST(tot.total AS BIGINT) AS total,
       CAST(m.hits * 1000 // greatest(tot.total, 1) AS INT) AS recall_permille
FROM (
  SELECT 'lsh_p4' AS method,
         (SELECT count(*) FROM ({_emb_lsh_sql})) AS hits
  UNION ALL
  SELECT 'lsh_multi' AS method,
         (SELECT count(*) FROM ({_emb_multi_sql})) AS hits
  UNION ALL
  SELECT 'ivf_trained' AS method,
         (SELECT count(*) FROM ({_emb_ivf_sql})) AS hits
) m, (
  SELECT count(*) AS total
  FROM embeddings l JOIN embeddings r ON l.vec_id < r.vec_id
  WHERE round(({_embcos}) * 1000) >= 300
) tot"""

    punct_sql = PUNCT_RE.replace("'", "''")
    o["text_profile"] = f"""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks,
                  string_split(lower(text), ' ') AS ltoks
           FROM documents),
c AS (SELECT doc_id, text, toks,
             len(list_filter(ltoks, x -> list_contains({en_list}, x))) AS en_hits,
             len(list_filter(ltoks, x -> list_contains({vi_list}, x))) AS vi_hits
      FROM t)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(length(replace(text, ' ', '')) * 100 // greatest(len(toks), 1) AS INT) AS avg_token_len_x100,
       CAST(len(list_filter(toks, x -> list_contains({stop_list}, x))) * 1000
            // greatest(len(toks), 1) AS INT) AS stopword_permille,
       CAST(len(list_filter(toks, x -> regexp_matches(x, '{punct_sql}'))) * 1000
            // greatest(len(toks), 1) AS INT) AS punct_permille,
       CAST(len(list_distinct(toks)) * 1000 // greatest(len(toks), 1) AS INT) AS ttr_permille,
       CAST(len(list_intersect(list_distinct(toks), {stop_list})) AS BIGINT) AS n_stopword_types,
       CASE WHEN en_hits > vi_hits AND en_hits > 0 THEN 'en'
            WHEN vi_hits > en_hits AND vi_hits > 0 THEN 'vi'
            ELSE 'unknown' END AS lang_pred,
       CAST(en_hits AS BIGINT) AS en_hits, CAST(vi_hits AS BIGINT) AS vi_hits,
       ('0x' || substr(md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))), 1, 15))::BIGINT AS fingerprint
FROM c"""

    o["text_len_percentiles"] = """
WITH h AS (SELECT len(string_split(text, ' ')) AS len, count(*) AS cnt
           FROM documents GROUP BY 1),
c AS (SELECT len, sum(cnt) OVER (ORDER BY len
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM h),
n AS (SELECT sum(cnt) AS n FROM h)
SELECT p.pct, CAST(min(c.len) AS BIGINT) AS n_tokens
FROM (VALUES (50), (90), (99)) p(pct), c, n
WHERE c.cum >= (n.n * p.pct + 99) // 100
GROUP BY p.pct"""

    o["media_kind_stats"] = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
chunks AS (
  SELECT doc_id, k FROM t,
  UNNEST(range(CAST(greatest(ceil(len(toks)/{SENT_TOKENS}.0), 1) AS BIGINT))) AS u(k)
),
media AS (
  SELECT doc_id,
         CASE CAST(k % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'video' ELSE 'audio' END AS kind
  FROM chunks WHERE (doc_id + k) % 3 = 0
)
SELECT kind, count(*) AS n_spans, count(DISTINCT doc_id) AS n_docs
FROM media GROUP BY kind"""

    # mirrors interleave_documents' media rule (chunk k gets a media span
    # when (doc_id+k)%3=0; ref = media://md5(doc_id:k)) and
    # attach_fake_payload's md5-derived repeat count
    media_cte = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
chunks AS (
  SELECT doc_id, k FROM t,
  UNNEST(range(CAST(greatest(ceil(len(toks)/{SENT_TOKENS}.0), 1) AS BIGINT))) AS u(k)
),
media AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         'media://' || md5(CAST(doc_id AS VARCHAR) || ':' || CAST(k AS VARCHAR)) AS media_ref,
         CASE CAST(k % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'video' ELSE 'audio' END AS kind
  FROM chunks WHERE (doc_id + k) % 3 = 0
),
p AS (
  SELECT doc_id, media_ref, kind,
         repeat(media_ref,
                CAST(('0x' || substr(md5(media_ref), 1, 15))::BIGINT % 64 + 8 AS INT)) AS payload
  FROM media
)
"""

    o["media_features"] = media_cte + """
SELECT doc_id, media_ref, kind,
       CAST(length(payload) AS INT) AS n_bytes,
       ('0x' || substr(md5(payload), 1, 15))::BIGINT AS checksum
FROM p"""

    o["media_resize"] = media_cte + """
SELECT doc_id, media_ref, kind,
       CAST(64 AS INT) AS width, CAST(64 AS INT) AS height,
       ('0x' || substr(md5(payload || ':64x64'), 1, 15))::BIGINT AS thumb_checksum
FROM p"""

    o["media_frames"] = media_cte + """
, vids AS (SELECT doc_id, media_ref, payload,
                  length(payload) % 7 + 2 AS n_frames
           FROM p WHERE kind = 'video')
SELECT doc_id, media_ref, CAST(k AS INT) AS frame_idx,
       ('0x' || substr(md5(payload || ':f' || CAST(k AS VARCHAR)), 1, 15))::BIGINT AS frame_checksum
FROM vids, UNNEST(range(n_frames)) AS u(k)"""

    o["tpch_pricing"] = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_x100,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_x100,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_price_x10000,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus"""

    o["tpch_top_customers"] = """
SELECT c_custkey, c_name,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_x10000,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue_x10000 DESC, c_custkey
LIMIT 10"""

    o["tpch_region_rollup"] = """
SELECT r_name, count(*) AS n_customers, count(DISTINCT n_nationkey) AS n_nations
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name"""

    o["events_user_rank"] = """
WITH r AS (
  SELECT user_id, event_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS rank
  FROM events
)
SELECT user_id, event_id, rank FROM r WHERE rank <= 3"""

    o["events_sessions"] = """
WITH o AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
  FROM events
), b AS (
  SELECT user_id, event_id, us,
         CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END AS brk
  FROM o
), sn AS (
  SELECT user_id, event_id, us,
         sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM b
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(session_no AS INT) AS session_no,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(event_id) AS BIGINT) AS first_event,
       CAST((max(us) - min(us)) // 1000000 AS BIGINT) AS duration_sec
FROM sn GROUP BY user_id, session_no"""

    o["events_cube"] = """
SELECT coalesce(event_type, 'ALL') AS event_type,
       CAST(coalesce(hod, -1) AS INT) AS hod,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS sum_value_x100
FROM (SELECT event_type, CAST(date_part('hour', ts) AS INT) AS hod,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events)
GROUP BY CUBE (event_type, hod)"""

    o["events_hourly"] = """
SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_x100
FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""

    o["sets_semi_anti"] = """
SELECT 'with_orders' AS label, count(*) AS n FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
UNION ALL
SELECT 'without_orders' AS label, count(*) AS n FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)"""

    return o
