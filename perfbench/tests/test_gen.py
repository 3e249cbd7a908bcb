"""Seeded generators: deterministic per seed, cached per parameters."""

import os

import pyarrow.parquet as pq
import pytest

from perfbench import gen

TINY = {
    "kg_build": dict(gen.PARAMS["kg_build"], n_docs=30),
    "dedup_near": dict(gen.PARAMS["dedup_near"], n_docs=40),
}


@pytest.mark.parametrize("workload", sorted(TINY))
def test_same_seed_same_tables(workload):
    fn = gen.GENERATORS[workload]
    a, b = fn(7, TINY[workload]), fn(7, TINY[workload])
    assert a.keys() == b.keys()
    for k in a:
        assert a[k].equals(b[k])
    c = fn(8, TINY[workload])
    assert not c["documents"].equals(a["documents"])


def test_kg_tables_follow_params():
    p = dict(TINY["kg_build"], n_docs=300, media_share=0.5)
    t = gen.kg_tables(3, p)
    spans = [s for row in t["documents"].column("spans").to_pylist()
             for s in row]
    media = sum(s["kind"] != "text" for s in spans) / len(spans)
    assert 0.4 < media < 0.6
    lens = [len(s["text"].split(" ")) for s in spans if s["kind"] == "text"]
    assert min(lens) >= p["sent_len"][0]
    assert max(lens) <= p["long_len"][1]
    ids = t["alias"].column("entity_id").to_pylist()
    assert len(set(ids)) <= p["n_alias_names"]


def test_flat_tables_plant_near_duplicates():
    p = dict(TINY["dedup_near"], n_docs=200, near_dup_share=0.5)
    texts = gen.flat_tables(5, p)["documents"].column("text").to_pylist()
    sets = [set(t.split(" ")) for t in texts]
    close = sum(any(len(s & o) / len(s | o) > 0.8 for o in sets[:i])
                for i, s in enumerate(sets))
    assert close > 0.3 * len(texts)


def test_generate_caches_by_seed_and_params(tmp_path):
    p = TINY["dedup_near"]
    first = gen.generate("dedup_near", 1, str(tmp_path), p)
    mtime = os.path.getmtime(first["documents"])
    again = gen.generate("dedup_near", 1, str(tmp_path), p)
    assert again == first
    assert os.path.getmtime(again["documents"]) == mtime
    other = gen.generate("dedup_near", 2, str(tmp_path), p)
    assert other["documents"] != first["documents"]
    assert pq.read_metadata(other["documents"]).num_rows == p["n_docs"]
