"""The benchmark's workloads: one operation each, its oracle and its
output checks.

``oracle()`` runs in the launcher, before the measured process starts;
``prepare()``, ``op()`` and ``check()`` run in the measured process.
Outputs are read back with pyarrow, outside Spark and outside the timed
interval.
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow.parquet as pq

N_BUCKETS = 32            # run_kg's default bucket layout
KERNEL_SAMPLE = 800       # sentences in the single-process kernel probe
SIM_DIM = 2048            # linking's n-gram width (8 KB per alias)


def digest(rows) -> str:
    """Order-insensitive digest of a row multiset."""
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest()


def read_rows(path: str, columns: list[str]) -> list[tuple]:
    t = pq.read_table(path, columns=columns)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


def norm_surface(s: str) -> str:
    """phonlp_spark.pipeline.linking.norm_surface, in Python."""
    return s.replace("_", " ").lower()


def tree_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping Spark's markers."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def span_rows(spans, name: str, parent: str | None = None) -> list[int]:
    """Forced row counts of the spans called ``name`` (optionally only
    those directly under a span called ``parent``)."""
    return [s.rows for s in spans
            if s.name == name and s.rows is not None
            and (parent is None or (s.parent is not None
                                    and spans[s.parent].name == parent))]


class KgBuild:
    """``run_kg`` into a fresh output directory (resume=False)."""

    name = "kg_build"
    # The cold run_kg takes ~30 s and a warm one ~17 s; with set-up, one
    # timed operation fills the per-run budget, so none is left for a
    # warm-up (DESIGN.md).
    warmups = 0
    MENTION_COLS = ["doc_id", "sent_id", "start", "end", "type", "text"]
    TRIPLE_COLS = ["doc_id", "sent_id", "subj", "pred", "obj",
                   "subj_type", "obj_type", "rule"]

    def __init__(self, inputs: dict[str, str]):
        self.inputs = inputs
        self.last_stats: dict = {}

    def sentences(self) -> list[tuple[str, int, list[str]]]:
        """(doc_id, sent_id, tokens) by the rule of
        ``ingest.split_sentences``: sent_id ranks a span among the
        document's text spans; empty text spans are dropped."""
        out = []
        t = pq.read_table(self.inputs["documents"])
        for doc_id, spans in zip(t.column("doc_id").to_pylist(),
                                 t.column("spans").to_pylist()):
            rank = 0
            for s in spans:
                if s["kind"] == "text":
                    if s["text"]:
                        out.append((doc_id, rank, s["text"].split(" ")))
                    rank += 1
        return out

    def oracle(self) -> dict:
        """Mention and triple multisets of the single-process kernel."""
        from phonlp_spark.kernel.annotate import default_kernel

        sents = self.sentences()
        anns = default_kernel().annotate([s[2] for s in sents])
        mentions, triples = [], []
        for (doc, sid, _), a in zip(sents, anns):
            mentions += [(doc, sid, *m) for m in a["mentions"]]
            triples += [(doc, sid, *tr) for tr in a["triples"]]
        n_docs = pq.read_metadata(self.inputs["documents"]).num_rows
        return {"mentions": digest(mentions), "n_mentions": len(mentions),
                "triples": digest(triples), "n_triples": len(triples),
                "n_docs": n_docs}

    def kernel_sample(self, seed: int) -> list[list[str]]:
        sents = [s[2] for s in self.sentences()]
        rng = random.Random(seed)
        return rng.sample(sents, min(KERNEL_SAMPLE, len(sents)))

    def prepare(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(self.inputs["documents"])
        self.alias = spark.read.parquet(self.inputs["alias"])
        self.buckets: list[int] | None = None

    def input_buckets(self) -> list[int]:
        """Bucket ids of the input documents, by run_kg's rule; computed
        at the first check, after the cold operation."""
        if self.buckets is None:
            from pyspark.sql import functions as F

            self.buckets = sorted(
                r[0] for r in self.docs.select(
                    F.pmod(F.xxhash64("doc_id"), F.lit(N_BUCKETS))
                    .cast("int")).distinct().collect())
        return self.buckets

    def op(self, out_dir: str) -> None:
        from phonlp_spark.pipeline.materialize import run_kg

        self.last_stats = run_kg(self.spark, self.docs, self.alias, out_dir,
                                 n_buckets=N_BUCKETS, resume=False)

    def check(self, out_dir: str, oracle: dict) -> tuple[list[str], str]:
        """(problems, digest of the sorted nodes and edges)."""
        problems = []
        m = read_rows(f"{out_dir}/mentions", self.MENTION_COLS)
        if digest(m) != oracle["mentions"]:
            problems.append(f"mentions differ from the kernel oracle "
                            f"({len(m)} rows vs {oracle['n_mentions']})")
        t = read_rows(f"{out_dir}/triples", self.TRIPLE_COLS)
        if digest(t) != oracle["triples"]:
            problems.append(f"triples differ from the kernel oracle "
                            f"({len(t)} rows vs {oracle['n_triples']})")
        nodes = read_rows(f"{out_dir}/nodes",
                          ["entity_id", "canonical", "type", "mention_count"])
        edges = read_rows(f"{out_dir}/edges",
                          ["subj_id", "pred", "obj_id", "doc_id", "sent_id"])
        ids = {n[0] for n in nodes}
        dangling = sum(e[0] not in ids or e[2] not in ids for e in edges)
        if dangling:
            problems.append(f"{dangling} edges name an entity missing "
                            "from nodes")
        man = read_rows(f"{out_dir}/manifest", ["bucket", "docs", "status"])
        if sorted(r[0] for r in man) != self.input_buckets():
            problems.append("manifest does not cover every input bucket "
                            "exactly once")
        if sum(r[1] for r in man) != oracle["n_docs"]:
            problems.append(f"manifest records {sum(r[1] for r in man)} "
                            f"docs, input has {oracle['n_docs']}")
        if any(r[2] != "done" for r in man):
            problems.append("manifest has a bucket not marked done")
        return problems, digest([("n",) + n for n in nodes]
                                + [("e",) + e for e in edges])

    def layer_counts(self, out_dir: str, spans) -> dict[str, float]:
        """Counts of the traced operation that its outputs determine."""
        alias = read_rows(self.inputs["alias"], ["alias", "entity_id"])
        alias_norm = {norm_surface(a) for a, _ in alias}
        by_surf: dict[str, set] = {}
        for a, e in alias:
            by_surf.setdefault(norm_surface(a), set()).add(e)
        same_as = {(x, y) for es in by_surf.values()
                   for x in es for y in es if x < y}
        m = read_rows(f"{out_dir}/mentions", ["text", "entity_id",
                                              "canonical_id"])
        surf_ent = {norm_surface(t): e for t, e, _ in m}
        exact = sum(s in alias_norm for s in surf_ent)
        new_ids = sum(e.startswith("X") for e in surf_ent.values())
        files, size = tree_size(out_dir)
        from phonlp_spark.pipeline.cc import SMALL_GRAPH_EDGES
        return {
            "linking.surfaces": len(surf_ent),
            "linking.exact_hits": exact,
            "linking.exact_hit_ratio": (exact / len(surf_ent)
                                        if surf_ent else 0.0),
            "linking.sim_scored": len(surf_ent) - exact,
            "linking.sim_linked": len(surf_ent) - exact - new_ids,
            "linking.new_ids": new_ids,
            "linking.broadcast_mb": len(alias_norm) * SIM_DIM * 4 / 2**20,
            "cc.edges": len(same_as),
            "cc.components": len({c for _, _, c in m}),
            "cc.distributed": int(len(same_as) > SMALL_GRAPH_EDGES),
            "materialize.written_mb": size / 2**20,
            "materialize.files_written": files,
            "materialize.buckets_done": len(self.last_stats.get(
                "processed_buckets", [])),
            "materialize.buckets_skipped": len(self.last_stats.get(
                "skipped_buckets", [])),
            "annotate.sentences": max(span_rows(
                spans, "annotate_sentences_df"), default=0),
            "ingest.sentences": max(span_rows(spans, "split_sentences"),
                                    default=0),
        }


class DedupNear:
    """The near-duplicate operators behind the ``__spark_entry__`` dedup
    queries."""

    name = "dedup_near"
    # the second operation of a session is still ~30% above the fourth;
    # one warm-up fits the per-run budget and takes the timed operation
    # off the steepest part of that slope (DESIGN.md)
    warmups = 1
    OUTPUTS = {  # output dir -> (oracle query, columns)
        "lsh_pairs": ("dedup_lsh_pairs", ["a", "b"]),
        "lsh_verified": ("dedup_lsh_verified",
                         ["a", "b", "common", "na", "nb"]),
        "jaccard": ("dedup_jaccard", ["a", "b", "common", "na", "nb"]),
    }

    def __init__(self, inputs: dict[str, str]):
        self.inputs = inputs

    def texts(self) -> list[str]:
        return pq.read_table(self.inputs["documents"],
                             columns=["text"]).column("text").to_pylist()

    def oracle(self) -> dict:
        """The DuckDB oracles of ``__spark_entry__.oracle_sql()`` bound
        to the generated documents."""
        import duckdb

        from __spark_entry__ import oracle_sql

        sql = oracle_sql()
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{self.inputs['documents']}')")
            out = {"n_docs":
                   pq.read_metadata(self.inputs["documents"]).num_rows}
            for d, (q, cols) in self.OUTPUTS.items():
                # the operation runs dedup_lsh_pairs' 'base' sketch only
                where = " WHERE variant = 'base'" if d == "lsh_pairs" else ""
                rows = con.execute(f"SELECT {', '.join(cols)} "
                                   f"FROM ({sql[q]}){where}").fetchall()
                out[d] = digest(rows)
                out[f"n_{d}"] = len(rows)
        finally:
            con.close()
        return out

    def kernel_sample(self, seed: int) -> list[list[str]]:
        rng = random.Random(seed)
        texts = self.texts()
        return [t.split(" ") for t in
                rng.sample(texts, min(KERNEL_SAMPLE, len(texts)))]

    def prepare(self, spark) -> None:
        self.docs = spark.read.parquet(self.inputs["documents"])

    def op(self, out_dir: str) -> None:
        from phonlp_spark.ops import dedup

        # the parameters of the queries dedup_lsh_pairs ('base' sketch:
        # 8 hashes, bands of 2), dedup_lsh_verified and dedup_jaccard;
        # the 32/4 'wide' sketch is left out to fit the per-run budget
        dedup.lsh_candidate_pairs(self.docs, n_minhash=8, band=2).write \
            .mode("overwrite").parquet(f"{out_dir}/lsh_pairs")
        dedup.lsh_verified_pairs(self.docs, min_pct=5).write \
            .mode("overwrite").parquet(f"{out_dir}/lsh_verified")
        dedup.jaccard_pairs(self.docs, min_pct=5).write \
            .mode("overwrite").parquet(f"{out_dir}/jaccard")

    def check(self, out_dir: str, oracle: dict) -> tuple[list[str], str]:
        problems, parts = [], []
        for d, (q, cols) in self.OUTPUTS.items():
            rows = read_rows(f"{out_dir}/{d}", cols)
            parts.append(digest(rows))
            if parts[-1] != oracle[d]:
                problems.append(f"{d} differs from the {q} oracle "
                                f"({len(rows)} rows vs {oracle[f'n_{d}']})")
        return problems, digest(parts)

    def layer_counts(self, out_dir: str, spans) -> dict[str, float]:
        shingles = set()
        for t in self.texts():
            toks = t.split(" ")
            shingles.update(" ".join(toks[i:i + 3])
                            for i in range(len(toks) - 2))
        cand = span_rows(spans, "lsh_pairs_from_signatures",
                         parent="lsh_verified_pairs")
        ver = span_rows(spans, "lsh_verified_pairs")
        cand_n, ver_n = sum(cand), sum(ver)
        files, size = tree_size(out_dir)
        return {
            "dedup.shingle_rows": max(span_rows(spans, "token_shingles"),
                                      default=0),
            "dedup.shingles_distinct": len(shingles),
            "dedup.candidate_pairs": cand_n,
            "dedup.verified_pairs": ver_n,
            "dedup.verify_yield": ver_n / cand_n if cand_n else 0.0,
            "dedup.jaccard_pairs": sum(span_rows(spans, "jaccard_pairs")),
            "materialize.written_mb": size / 2**20,
            "materialize.files_written": files,
        }


WORKLOADS = {w.name: w for w in (KgBuild, DedupNear)}
