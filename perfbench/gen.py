"""Seeded input generators for the benchmark workloads.

Inputs are built with the standard library and pyarrow only (no Spark),
so generation never shares a process or a clock with the measured
program.  The same (workload, seed, params) always yields byte-identical
tables; each set is cached on disk keyed by a digest of all three.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# syllables of the FIXTURES.md name recipe (phonlp_spark.pipeline.ingest)
SYLL = [
    "an", "bình", "chi", "dũng", "em", "giang", "hà", "khang", "lan",
    "minh", "nam", "oanh", "phúc", "quang", "sơn", "thu", "uyên", "vân",
]
COMMON = [
    "ông", "bà", "công_ty", "thành_phố", "mua", "bán", "gặp", "nói", "ký",
    "nhà", "hợp_đồng", "với", "tại", "của", "và", "đã", "sẽ", "rất",
    "thăm", "xây_dựng", "đầu_tư", "phát_triển", ".", ",",
]
MEDIA_KINDS = ("image", "video", "audio")

SPAN_TYPE = pa.struct([("kind", pa.string()), ("text", pa.string()),
                       ("media_ref", pa.string()), ("offset", pa.int32())])
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()),
                         ("spans", pa.list_(SPAN_TYPE))])
ALIAS_SCHEMA = pa.schema([("alias", pa.string()), ("entity_id", pa.string()),
                          ("canonical", pa.string())])
FLAT_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                         ("lang", pa.string()), ("source", pa.string()),
                         ("n_chars", pa.int64())])

# Per-workload generator settings.  Each names a property the program's
# behaviour depends on: sentence length drives kernel padding and MST
# size, the long tail drives skew, media share the span filter, names
# and alias size/overlap the linking hit ratio and same-as edges, and
# the near-duplicate share the dedup candidate and verify counts.
PARAMS = {
    "kg_build": {
        "n_docs": 400, "spans": (1, 12), "sent_len": (5, 40),
        "long_share": 0.005, "long_len": (200, 260), "media_share": 0.2,
        "n_names": 40, "name_syll": (2, 3), "n_alias_names": 40,
        "alias_overlap": 0.5,
    },
    "dedup_near": {
        "n_docs": 1000, "doc_len": (10, 100), "vocab": 31,
        "near_dup_share": 0.1, "dup_edits": (1, 3),
    },
}


def seeded_names(n: int, rng: random.Random, syll=(2, 3)) -> list[str]:
    """Underscore-joined capitalised syllable names.  Shared two-syllable
    prefixes are frequent by construction, which gives the alias
    dictionary its cross-entity collisions."""
    return ["_".join(rng.choice(SYLL).capitalize()
                     for _ in range(rng.randint(*syll))) for _ in range(n)]


def alias_rows(names: list[str]) -> list[tuple[str, str, str]]:
    """Alias dictionary rows by the rule of
    ``phonlp_spark.pipeline.linking.build_alias_dict``: the name, its
    space form and, for 3+ segment names, the two-segment prefix."""
    rows = []
    for name in dict.fromkeys(names):
        eid = "E" + hashlib.md5(name.encode()).hexdigest()[:12]
        variants = {name, name.replace("_", " ")}
        parts = name.split("_")
        if len(parts) > 2:
            variants.add("_".join(parts[:2]))
        rows += [(v, eid, name) for v in sorted(variants)]
    return rows


def kg_tables(seed: int, p: dict) -> dict[str, pa.Table]:
    """Interleaved documents + alias dictionary (FIXTURES.md §1)."""
    rng = random.Random(seed)
    names = seeded_names(p["n_names"], rng, p["name_syll"])
    n_keep = int(p["n_alias_names"] * p["alias_overlap"])
    alias_names = (rng.sample(names, min(n_keep, len(names)))
                   + seeded_names(p["n_alias_names"] - n_keep, rng,
                                  p["name_syll"]))
    vocab = COMMON + names
    doc_ids, spans = [], []
    for d in range(p["n_docs"]):
        row = []
        for off in range(rng.randint(*p["spans"])):
            if rng.random() < p["media_share"]:
                ref = "media://" + format(rng.getrandbits(64), "016x")
                row.append({"kind": rng.choice(MEDIA_KINDS), "text": "",
                            "media_ref": ref, "offset": off})
            else:
                long = rng.random() < p["long_share"]
                n = rng.randint(*(p["long_len"] if long else p["sent_len"]))
                row.append({"kind": "text", "media_ref": "", "offset": off,
                            "text": " ".join(rng.choice(vocab)
                                             for _ in range(n))})
        doc_ids.append(f"doc{d:07d}")
        spans.append(row)
    a = list(zip(*alias_rows(alias_names)))
    return {
        "documents": pa.table(
            [pa.array(doc_ids), pa.array(spans, pa.list_(SPAN_TYPE))],
            schema=DOCS_SCHEMA),
        "alias": pa.table([pa.array(c, pa.string()) for c in a],
                          schema=ALIAS_SCHEMA),
    }


def flat_tables(seed: int, p: dict) -> dict[str, pa.Table]:
    """Flat documents of the sf fixtures' shape with planted
    near-duplicates: a copy of an earlier doc with a few tokens
    substituted."""
    rng = random.Random(seed)
    vocab = [f"w{i:02d}" for i in range(p["vocab"])]
    texts: list[str] = []
    for _ in range(p["n_docs"]):
        if texts and rng.random() < p["near_dup_share"]:
            toks = rng.choice(texts).split(" ")
            for _ in range(rng.randint(*p["dup_edits"])):
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
        else:
            toks = [rng.choice(vocab)
                    for _ in range(rng.randint(*p["doc_len"]))]
        texts.append(" ".join(toks))
    n = len(texts)
    return {"documents": pa.table([
        pa.array(range(n), pa.int64()), pa.array(texts, pa.string()),
        pa.array([rng.choice(("en", "vi", "zh")) for _ in range(n)]),
        pa.array([f"src{i % 7}" for i in range(n)]),
        pa.array([len(t) for t in texts], pa.int64()),
    ], schema=FLAT_SCHEMA)}


GENERATORS = {"kg_build": kg_tables, "dedup_near": flat_tables}


def cache_key(workload: str, seed: int, params: dict) -> str:
    blob = json.dumps([workload, seed, params], sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def generate(workload: str, seed: int, cache_dir: str,
             params: dict | None = None) -> dict[str, str]:
    """Parquet paths of the workload's tables, generating them on a
    cache miss.  A set is published by an atomic rename, so a crash
    mid-write never leaves a partial set behind."""
    params = PARAMS[workload] if params is None else params
    d = os.path.join(cache_dir, f"{workload}-{seed}-"
                     f"{cache_key(workload, seed, params)}")
    if not os.path.isdir(d):
        tmp = f"{d}.tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        for name, t in GENERATORS[workload](seed, params).items():
            pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
        os.replace(tmp, d)
    return {f[:-len(".parquet")]: os.path.join(d, f)
            for f in sorted(os.listdir(d)) if f.endswith(".parquet")}
