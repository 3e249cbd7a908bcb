"""UD-eval token alignment for diverging tokenizations.

Distributed form of the reference word aligner
(reference phonlp/utils/conll18_ud_eval.py:408-498): when gold and
system tokenize the same character stream differently, tokens align

- by exact character span where neither side is inside a multiword
  region (case B, conll18_ud_eval.py:484-496), and
- by longest-common-subsequence on lowercased forms inside a minimal
  "multiword span" — the smallest window in which both sides cross the
  same character boundary (case A, conll18_ud_eval.py:422-482).

The engine normally runs with identity-aligned tokens (one tokenizer
end to end), so this operator sits off the hot path; it becomes
load-bearing the moment a system output with different segmentation
(e.g. subword or MWT-splitting tokenizers) must be scored against
gold.  Per-sentence alignment is a few dozen tokens, so the sequential
two-pointer walk runs inside a cogrouped Arrow batch
(`cogroup().applyInPandas`) — Spark distributes sentences, not the
walk.

Semantics parity with the reference module is pinned in
tests/test_alignment.py, which imports conll18_ud_eval itself and
compares aligned-pair counts on synthetic CoNLL-U with multiword
tokens.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SENT_KEY = ["doc_id", "sent_id"]

ALIGNED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("sent_id", T.IntegerType()),
    T.StructField("gold_token_id", T.IntegerType()),
    T.StructField("system_token_id", T.IntegerType()),
])


def with_char_spans(tokens: DataFrame, word_col: str = "word") -> DataFrame:
    """Add (span_start, span_end, is_multiword=false) by per-sentence
    cumulative character offsets — the UD convention: spans index the
    concatenation of token characters, whitespace excluded
    (conll18_ud_eval.py:255-268).  Pure window arithmetic, no Python.
    """
    from pyspark.sql.window import Window

    w = (Window.partitionBy(*SENT_KEY).orderBy("token_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    start = F.coalesce(F.sum(F.length(word_col)).over(w), F.lit(0)).cast("int")
    return (tokens
            .withColumn("span_start", start)
            .withColumn("span_end", (start + F.length(word_col)).cast("int"))
            .withColumn("is_multiword", F.lit(False)))


def _align_sentence(gold: list, system: list) -> list[tuple[int, int]]:
    """Two-pointer alignment of one sentence.

    gold/system: lists of (token_id, word, start, end, is_multiword),
    sorted by token_id.  Returns (gold_token_id, system_token_id)
    pairs.  Mirrors reference align_words/find_multiword_span/
    compute_lcs semantics exactly (independent implementation).
    """

    def window_end(side, i, boundary):
        # has side[i] moved past the current multiword window?
        if i >= len(side):
            return True
        _tid, _w, s, e, mw = side[i]
        return s >= boundary if mw else e > boundary

    def grow(side, i, boundary):
        _tid, _w, _s, e, mw = side[i]
        return e if (mw and e > boundary) else boundary

    def lcs_pairs(gwin, swin):
        # classic LCS table on lowercased forms, then greedy replay
        ng, ns = len(gwin), len(swin)
        tab = [[0] * (ns + 1) for _ in range(ng + 1)]
        for g in range(ng - 1, -1, -1):
            for s in range(ns - 1, -1, -1):
                best = max(tab[g + 1][s], tab[g][s + 1])
                if gwin[g][1].lower() == swin[s][1].lower():
                    best = max(best, 1 + tab[g + 1][s + 1])
                tab[g][s] = best
        out, g, s = [], 0, 0
        while g < ng and s < ns:
            if gwin[g][1].lower() == swin[s][1].lower():
                out.append((gwin[g][0], swin[s][0]))
                g, s = g + 1, s + 1
            elif tab[g][s] == tab[g + 1][s]:
                g += 1
            else:
                s += 1
        return out

    pairs: list[tuple[int, int]] = []
    gi = si = 0
    while gi < len(gold) and si < len(system):
        g_mw, s_mw = gold[gi][4], system[si][4]
        if g_mw or s_mw:
            # minimal window where both sides cross one char boundary
            if g_mw:
                boundary = gold[gi][3]
                if not s_mw and system[si][2] < gold[gi][2]:
                    si += 1
            else:
                boundary = system[si][3]
                if not g_mw and gold[gi][2] < system[si][2]:
                    gi += 1
            gs, ss = gi, si
            while (not window_end(gold, gi, boundary)
                   or not window_end(system, si, boundary)):
                if gi < len(gold) and (si >= len(system)
                                       or gold[gi][2] <= system[si][2]):
                    boundary = grow(gold, gi, boundary)
                    gi += 1
                else:
                    boundary = grow(system, si, boundary)
                    si += 1
            if gi > gs and si > ss:
                pairs.extend(lcs_pairs(gold[gs:gi], system[ss:si]))
        elif (gold[gi][2], gold[gi][3]) == (system[si][2], system[si][3]):
            pairs.append((gold[gi][0], system[si][0]))
            gi, si = gi + 1, si + 1
        elif gold[gi][2] <= system[si][2]:
            gi += 1
        else:
            si += 1
    return pairs


def align_tokens(gold: DataFrame, system: DataFrame,
                 word_col: str = "word") -> DataFrame:
    """Aligned (gold_token_id, system_token_id) pairs per sentence.

    Inputs need (doc_id, sent_id, token_id, word[, span_start,
    span_end, is_multiword]); spans are derived via `with_char_spans`
    when absent.  Callers guarantee both sides tokenize the same
    character stream (the reference raises on mismatch,
    conll18_ud_eval.py:500-513; here span arithmetic makes mismatched
    streams simply fail to align, which the caller can assert on).
    """
    def prep(df):
        if "span_start" not in df.columns:
            df = with_char_spans(df, word_col)
        # every output column goes through cast+alias: each prep() call
        # then carries FRESH attribute ids.  Bare pass-through refs
        # would share ids between the two sides when gold and system
        # come from the same plan (e.g. scoring a table against
        # itself), and Spark's DeduplicateRelations mangles a cogrouped
        # applyInPandas child in that case — the worker receives the
        # system-side batch without the pass-through columns.
        return df.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col("sent_id").cast("int").alias("sent_id"),
            F.col("token_id").cast("int").alias("token_id"),
            F.col(word_col).cast("string").alias("word"),
            F.col("span_start").cast("int").alias("span_start"),
            F.col("span_end").cast("int").alias("span_end"),
            F.col("is_multiword").cast("boolean").alias("is_multiword"))

    def align(key, gpdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        def rows(pdf):
            pdf = pdf.sort_values("token_id")
            return list(zip(pdf["token_id"], pdf["word"], pdf["span_start"],
                            pdf["span_end"], pdf["is_multiword"]))

        g, s = rows(gpdf), rows(spdf)
        matched = _align_sentence(g, s) if g and s else []
        return pd.DataFrame({
            "doc_id": [key[0]] * len(matched),
            "sent_id": [key[1]] * len(matched),
            "gold_token_id": [a for a, _ in matched],
            "system_token_id": [b for _, b in matched],
        })

    return (prep(gold).groupBy(*SENT_KEY)
            .cogroup(prep(system).groupBy(*SENT_KEY))
            .applyInPandas(align, schema=ALIGNED_SCHEMA))


def _base_rel(col) -> F.Column:
    """Strip the language-specific deprel subtype: 'nmod:poss' -> 'nmod'.

    The reference evaluator drops subtypes at LOAD
    (conll18_ud_eval.py:219, columns[DEPREL].split(':')[0]), so every
    downstream comparison — LAS equality, CLAS content membership and
    denominators — sees base relations only.  Normalizing here keeps
    that contract for inputs carrying subtyped rels."""
    return F.split(col, ":").getItem(0)


def _aligned_arcs(gold: DataFrame, system: DataFrame,
                  aligned: DataFrame) -> DataFrame:
    """Matched word pairs decorated with both sides' (head, base
    deprel) and the system-side counterpart of the gold head — the
    table every aligned dependency metric scores over."""
    g = gold.select(*SENT_KEY, F.col("token_id").alias("gold_token_id"),
                    F.col("head").alias("g_head"),
                    _base_rel(F.col("deprel")).alias("g_rel"))
    s = system.select(*SENT_KEY, F.col("token_id").alias("system_token_id"),
                      F.col("head").alias("s_head"),
                      _base_rel(F.col("deprel")).alias("s_rel"))
    j = aligned.join(g, SENT_KEY + ["gold_token_id"]).join(
        s, SENT_KEY + ["system_token_id"])
    head_map = aligned.select(
        *SENT_KEY, F.col("gold_token_id").alias("g_head"),
        F.col("system_token_id").alias("s_head_aligned"))
    return j.join(head_map, SENT_KEY + ["g_head"], "left")


def uas_las_aligned(gold: DataFrame, system: DataFrame,
                    cache_registry: list | None = None) -> DataFrame:
    """UAS/LAS over LCS-aligned tokens (the conll18_ud_eval scoring
    shape for diverging tokenizations): heads compare as ALIGNED head
    words, not raw indices (conll18_ud_eval.py:536-543).  Deprels are
    compared as base relations (subtypes stripped, see _base_rel).

    Inputs: (doc_id, sent_id, token_id, word, head, deprel).  One row:
    (n_aligned, uas_permille, las_permille), integer DIV only.

    LAZY: returns a one-row plan; nothing is collected here
    (composition-safe — the caller decides when jobs run).  The
    expensive cogrouped alignment is ALWAYS marked .cache() (lazy):
    every metric references the alignment subtree 2-3 times via
    _aligned_arcs' head_map self-join, so an uncached plan recomputes
    the applyInPandas walk per reference (the r5 regression).  Callers
    scoring many metrics over one alignment pass ``cache_registry``
    (a list) — the cached frame is appended so THEY own unpersist
    timing; without a registry the entry
    lives until Spark's LRU storage eviction.  MEMORY_ONLY (not the
    cache() default MEMORY_AND_DISK) keeps that eviction real: disk-
    spilled blocks are never dropped by the storage LRU, so a
    long-lived driver scoring many distinct (gold, system) pairs
    without a registry would otherwise grow storage unboundedly
    (ADVICE r6); an evicted block here just recomputes the walk.
    """
    from pyspark import StorageLevel
    aligned = align_tokens(gold, system).persist(StorageLevel.MEMORY_ONLY)
    if cache_registry is not None:
        cache_registry.append(aligned)
    # map each side's head index to its aligned counterpart: an arc is
    # correct when the head of the gold word aligns to the head of the
    # system word (root, head 0, matches root)
    j = _aligned_arcs(gold, system, aligned)
    ua = (F.col("g_head") == 0) & (F.col("s_head") == 0) | (
        F.col("s_head_aligned") == F.col("s_head"))
    la = ua & (F.col("g_rel") == F.col("s_rel"))
    agg = j.agg(F.count(F.lit(1)).alias("n_aligned"),
                F.sum(ua.cast("long")).alias("n_ua"),
                F.sum(la.cast("long")).alias("n_la"))
    out = agg.select(
        "n_aligned",
        F.expr("CAST((n_ua * 1000) DIV greatest(n_aligned, 1) AS INT)")
        .alias("uas_permille"),
        F.expr("CAST((n_la * 1000) DIV greatest(n_aligned, 1) AS INT)")
        .alias("las_permille"))
    return out


def aligned_field_score(gold: DataFrame, system: DataFrame,
                        field: str = "upos",
                        cache_registry: list | None = None) -> DataFrame:
    """UD-eval per-field Score over LCS-aligned words (the reference's
    "UPOS"/"XPOS"/"Lemmas" metrics, conll18_ud_eval.py:527-529 with
    alignment_score key_fn=columns[field]): a matched pair is correct
    when both sides carry the same field value.

    Inputs: (doc_id, sent_id, token_id, word, <field>).  One row:
    (n_gold, n_system, n_aligned, n_correct, precision_permille,
    recall_permille, f1_permille, aligned_acc_permille), integer DIV.

    LAZY (see uas_las_aligned): pass cache_registry to cache the
    shared alignment and own its unpersist timing.
    """
    aligned = align_tokens(gold, system).cache()
    if cache_registry is not None:
        cache_registry.append(aligned)
    g = gold.select(*SENT_KEY, F.col("token_id").alias("gold_token_id"),
                    F.col(field).alias("g_f"))
    s = system.select(*SENT_KEY, F.col("token_id").alias("system_token_id"),
                      F.col(field).alias("s_f"))
    j = aligned.join(g, SENT_KEY + ["gold_token_id"]).join(
        s, SENT_KEY + ["system_token_id"])
    agg = j.agg(F.count(F.lit(1)).alias("n_aligned"),
                F.sum((F.col("g_f") == F.col("s_f")).cast("long"))
                .alias("n_correct"))
    gold_n = gold.agg(F.count(F.lit(1)).alias("n_gold"))
    sys_n = system.agg(F.count(F.lit(1)).alias("n_system"))
    out = (gold_n.crossJoin(sys_n).crossJoin(agg)
           .select("n_gold", "n_system",
                   F.coalesce("n_aligned", F.lit(0)).alias("n_aligned"),
                   F.coalesce("n_correct", F.lit(0)).alias("n_correct"))
           .select(
               "n_gold", "n_system", "n_aligned", "n_correct",
               F.expr("CAST((n_correct * 1000) DIV greatest(n_system, 1)"
                      " AS INT)").alias("precision_permille"),
               F.expr("CAST((n_correct * 1000) DIV greatest(n_gold, 1)"
                      " AS INT)").alias("recall_permille"),
               F.expr("CAST((n_correct * 2000) DIV greatest(n_gold + n_system,"
                      " 1) AS INT)").alias("f1_permille"),
               F.expr("CAST((n_correct * 1000) DIV greatest(n_aligned, 1)"
                      " AS INT)").alias("aligned_acc_permille")))
    return out


# The UD content relations (reference conll18_ud_eval.py:105-135);
# everything else (aux/cop/mark/det/clf/case/cc, punct, ...) is
# excluded from CLAS.
CONTENT_DEPRELS = frozenset({
    "nsubj", "obj", "iobj", "csubj", "ccomp", "xcomp", "obl", "vocative",
    "expl", "dislocated", "advcl", "advmod", "discourse", "nmod", "appos",
    "nummod", "acl", "amod", "conj", "fixed", "flat", "compound", "list",
    "parataxis", "orphan", "goeswith", "reparandum", "root", "dep",
})


def clas_aligned(gold: DataFrame, system: DataFrame,
                 cache_registry: list | None = None) -> DataFrame:
    """CLAS: LAS restricted to content relations, the filtered variant
    the reference reports next to UAS/LAS (conll18_ud_eval.py:533-535
    with alignment_score's filter_fn arithmetic at :382-408).

    gold/system denominators count each side's own content-BASE-deprel
    words (subtypes stripped before membership and equality, matching
    the reference's strip-at-load); correct counts matched pairs whose
    GOLD word is content and whose (aligned head, base deprel) agree.
    One row: (n_gold, n_system, n_aligned, n_correct,
    precision_permille, recall_permille, f1_permille), integer DIV only.

    LAZY (see uas_las_aligned): pass cache_registry to cache the
    shared alignment and own its unpersist timing.
    """
    aligned = align_tokens(gold, system).cache()
    if cache_registry is not None:
        cache_registry.append(aligned)
    j = _aligned_arcs(gold, system, aligned)
    content = F.col("g_rel").isin(*sorted(CONTENT_DEPRELS))
    ua = (F.col("g_head") == 0) & (F.col("s_head") == 0) | (
        F.col("s_head_aligned") == F.col("s_head"))
    la = ua & (F.col("g_rel") == F.col("s_rel"))
    agg = j.agg(
        F.sum(content.cast("long")).alias("n_aligned"),
        F.sum((content & la).cast("long")).alias("n_correct"))
    gold_n = gold.filter(_base_rel(F.col("deprel"))
                         .isin(*sorted(CONTENT_DEPRELS))) \
        .agg(F.count(F.lit(1)).alias("n_gold"))
    sys_n = system.filter(_base_rel(F.col("deprel"))
                          .isin(*sorted(CONTENT_DEPRELS))) \
        .agg(F.count(F.lit(1)).alias("n_system"))
    out = (gold_n.crossJoin(sys_n).crossJoin(agg)
           .select(
               "n_gold", "n_system",
               F.coalesce("n_aligned", F.lit(0)).alias("n_aligned"),
               F.coalesce("n_correct", F.lit(0)).alias("n_correct"))
           .select(
               "n_gold", "n_system", "n_aligned", "n_correct",
               F.expr("CAST((n_correct * 1000) DIV greatest(n_system, 1) AS INT)")
               .alias("precision_permille"),
               F.expr("CAST((n_correct * 1000) DIV greatest(n_gold, 1) AS INT)")
               .alias("recall_permille"),
               F.expr("CAST((n_correct * 2000) DIV greatest(n_gold + n_system, 1)"
                      " AS INT)").alias("f1_permille")))
    return out


# The UD functional relations whose dependents ride along in MLAS
# functional-children comparison (conll18_ud_eval.py:137) and the
# universal feature inventory FEATS are filtered to at load
# (conll18_ud_eval.py:139-161, :216) — both from the public UD spec.
FUNCTIONAL_DEPRELS = frozenset({"aux", "cop", "mark", "det", "clf",
                                "case", "cc"})
UNIVERSAL_FEATURES = frozenset({
    "PronType", "NumType", "Poss", "Reflex", "Foreign", "Abbr", "Gender",
    "Animacy", "Number", "Case", "Definite", "Degree", "VerbForm", "Mood",
    "Tense", "Aspect", "Voice", "Evident", "Polarity", "Person", "Polite",
})


def norm_feats(col) -> F.Column:
    """FEATS normalization the reference applies at LOAD
    (conll18_ud_eval.py:216): keep only universal features, sorted,
    '|'-joined; '_' when none survive."""
    kept = F.array_sort(F.filter(
        F.split(col, r"\|"),
        lambda x: F.split(x, "=").getItem(0)
        .isin(*sorted(UNIVERSAL_FEATURES))))
    joined = F.array_join(kept, "|")
    return F.when(col.isNull() | (F.length(joined) == 0), F.lit("_")) \
        .otherwise(joined)


def _functional_children(tokens: DataFrame, aligned: DataFrame | None) -> DataFrame:
    """Per-word ordered functional-children signature list.

    For each parent word: its dependents whose BASE deprel is
    functional, in word order (the reference appends them in word
    order, conll18_ud_eval.py:263), each as a (mapped_id, deprel,
    upos, feats) struct.  ``aligned`` maps SYSTEM child ids to their
    gold counterparts ('NotAligned' when unmatched) — pass None on the
    gold side, where ga is the identity (conll18_ud_eval.py:397-400).
    Output: (doc_id, sent_id, token_id, fc) keyed by the PARENT id.
    """
    ch = tokens.select(
        *SENT_KEY, F.col("head").alias("token_id"),
        F.col("token_id").alias("_cid"),
        _base_rel(F.col("deprel")).alias("_rel"),
        F.col("upos").alias("_upos"),
        norm_feats(F.col("feats")).alias("_feats"),
    ).filter(F.col("_rel").isin(*sorted(FUNCTIONAL_DEPRELS)))
    if aligned is None:
        ch = ch.withColumn("_mid", F.col("_cid").cast("string"))
    else:
        amap = aligned.select(
            *SENT_KEY, F.col("system_token_id").alias("_cid"),
            F.col("gold_token_id").cast("string").alias("_mid"))
        ch = ch.join(amap, SENT_KEY + ["_cid"], "left") \
            .withColumn("_mid", F.coalesce("_mid", F.lit("NotAligned")))
    lst = (ch.groupBy(*SENT_KEY, "token_id")
           .agg(F.array_sort(F.collect_list(F.struct(
               "_cid", "_mid", "_rel", "_upos", "_feats"))).alias("_fc")))
    # order by the child's own word order, then drop the sort key so
    # the comparison sees only (mapped id, rel, upos, feats)
    return lst.select(
        *SENT_KEY, "token_id",
        F.transform("_fc", lambda s: F.struct(
            s["_mid"].alias("mid"), s["_rel"].alias("rel"),
            s["_upos"].alias("upos"), s["_feats"].alias("feats")))
        .alias("fc"))


def mlas_aligned(gold: DataFrame, system: DataFrame,
                 cache_registry: list | None = None) -> DataFrame:
    """MLAS (conll18_ud_eval.py:536-545): CLAS whose correctness
    additionally requires the word's UPOS and universal FEATS to match
    AND both sides' ordered functional-children signatures to agree
    (each child as its aligned counterpart + base deprel + UPOS +
    FEATS).  Inputs: (doc_id, sent_id, token_id, word, head, deprel,
    upos, feats); feats may be raw CoNLL-U strings — normalized here
    exactly as the reference does at load.  One row: (n_gold,
    n_system, n_aligned, n_correct, precision_permille,
    recall_permille, f1_permille).  LAZY (see uas_las_aligned).
    """
    aligned = align_tokens(gold, system).cache()
    if cache_registry is not None:
        cache_registry.append(aligned)
    j = _aligned_arcs(gold, system, aligned)
    g_attr = gold.select(*SENT_KEY, F.col("token_id").alias("gold_token_id"),
                         F.col("upos").alias("g_upos"),
                         norm_feats(F.col("feats")).alias("g_feats"))
    s_attr = system.select(*SENT_KEY,
                           F.col("token_id").alias("system_token_id"),
                           F.col("upos").alias("s_upos"),
                           norm_feats(F.col("feats")).alias("s_feats"))
    j = j.join(g_attr, SENT_KEY + ["gold_token_id"]) \
         .join(s_attr, SENT_KEY + ["system_token_id"])
    g_fc = _functional_children(gold, None).withColumnRenamed(
        "token_id", "gold_token_id").withColumnRenamed("fc", "g_fc")
    s_fc = _functional_children(system, aligned).withColumnRenamed(
        "token_id", "system_token_id").withColumnRenamed("fc", "s_fc")
    empty = F.array().cast(
        "array<struct<mid:string,rel:string,upos:string,feats:string>>")
    j = (j.join(g_fc, SENT_KEY + ["gold_token_id"], "left")
         .join(s_fc, SENT_KEY + ["system_token_id"], "left")
         .withColumn("g_fc", F.coalesce("g_fc", empty))
         .withColumn("s_fc", F.coalesce("s_fc", empty)))
    content = F.col("g_rel").isin(*sorted(CONTENT_DEPRELS))
    ua = (F.col("g_head") == 0) & (F.col("s_head") == 0) | (
        F.col("s_head_aligned") == F.col("s_head"))
    ok = ua & (F.col("g_rel") == F.col("s_rel")) \
        & (F.col("g_upos") == F.col("s_upos")) \
        & (F.col("g_feats") == F.col("s_feats")) \
        & (F.col("g_fc") == F.col("s_fc"))
    agg = j.agg(
        F.sum(content.cast("long")).alias("n_aligned"),
        F.sum((content & ok).cast("long")).alias("n_correct"))
    gold_n = gold.filter(_base_rel(F.col("deprel"))
                         .isin(*sorted(CONTENT_DEPRELS))) \
        .agg(F.count(F.lit(1)).alias("n_gold"))
    sys_n = system.filter(_base_rel(F.col("deprel"))
                          .isin(*sorted(CONTENT_DEPRELS))) \
        .agg(F.count(F.lit(1)).alias("n_system"))
    out = (gold_n.crossJoin(sys_n).crossJoin(agg)
           .select(
               "n_gold", "n_system",
               F.coalesce("n_aligned", F.lit(0)).alias("n_aligned"),
               F.coalesce("n_correct", F.lit(0)).alias("n_correct"))
           .select(
               "n_gold", "n_system", "n_aligned", "n_correct",
               F.expr("CAST((n_correct * 1000) DIV greatest(n_system, 1) AS INT)")
               .alias("precision_permille"),
               F.expr("CAST((n_correct * 1000) DIV greatest(n_gold, 1) AS INT)")
               .alias("recall_permille"),
               F.expr("CAST((n_correct * 2000) DIV greatest(n_gold + n_system, 1)"
                      " AS INT)").alias("f1_permille")))
    return out


def blex_aligned(gold: DataFrame, system: DataFrame,
                 cache_registry: list | None = None) -> DataFrame:
    """BLEX (conll18_ud_eval.py:547-550): CLAS whose correctness
    additionally requires the lemma to match under the reference's
    gold-'_' escape — a pair whose GOLD lemma is '_' is
    lemma-correct regardless of the system lemma (both key_fns
    collapse to '_').  Inputs: (doc_id, sent_id, token_id, word,
    head, deprel, lemma).  One row, same shape as clas_aligned.
    LAZY (see uas_las_aligned).
    """
    aligned = align_tokens(gold, system).cache()
    if cache_registry is not None:
        cache_registry.append(aligned)
    j = _aligned_arcs(gold, system, aligned)
    g_l = gold.select(*SENT_KEY, F.col("token_id").alias("gold_token_id"),
                      F.col("lemma").alias("g_lemma"))
    s_l = system.select(*SENT_KEY,
                        F.col("token_id").alias("system_token_id"),
                        F.col("lemma").alias("s_lemma"))
    j = j.join(g_l, SENT_KEY + ["gold_token_id"]) \
         .join(s_l, SENT_KEY + ["system_token_id"])
    content = F.col("g_rel").isin(*sorted(CONTENT_DEPRELS))
    ua = (F.col("g_head") == 0) & (F.col("s_head") == 0) | (
        F.col("s_head_aligned") == F.col("s_head"))
    lemma_ok = (F.col("g_lemma") == F.lit("_")) | \
        (F.col("g_lemma") == F.col("s_lemma"))
    ok = ua & (F.col("g_rel") == F.col("s_rel")) & lemma_ok
    agg = j.agg(
        F.sum(content.cast("long")).alias("n_aligned"),
        F.sum((content & ok).cast("long")).alias("n_correct"))
    gold_n = gold.filter(_base_rel(F.col("deprel"))
                         .isin(*sorted(CONTENT_DEPRELS))) \
        .agg(F.count(F.lit(1)).alias("n_gold"))
    sys_n = system.filter(_base_rel(F.col("deprel"))
                          .isin(*sorted(CONTENT_DEPRELS))) \
        .agg(F.count(F.lit(1)).alias("n_system"))
    out = (gold_n.crossJoin(sys_n).crossJoin(agg)
           .select(
               "n_gold", "n_system",
               F.coalesce("n_aligned", F.lit(0)).alias("n_aligned"),
               F.coalesce("n_correct", F.lit(0)).alias("n_correct"))
           .select(
               "n_gold", "n_system", "n_aligned", "n_correct",
               F.expr("CAST((n_correct * 1000) DIV greatest(n_system, 1) AS INT)")
               .alias("precision_permille"),
               F.expr("CAST((n_correct * 1000) DIV greatest(n_gold, 1) AS INT)")
               .alias("recall_permille"),
               F.expr("CAST((n_correct * 2000) DIV greatest(n_gold + n_system, 1)"
                      " AS INT)").alias("f1_permille")))
    return out
