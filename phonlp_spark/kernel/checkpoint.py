"""Model checkpoint IO + the subword-encoder path for production weights.

Mirrors the reference loader inventory (reference phonlp/run_script.py:19-38:
torch.load -> {config, vocab, model state_dict}) in two forms:

- the engine-native format: one ``weights.npz`` of numpy arrays plus a
  ``meta.json`` with vocab sizes — written/read with no torch
  dependency, broadcast once per job (kernel/weights.py contract);
- a torch fallback behind an import guard: if ``<save_dir>/phonlp.pt``
  exists and torch is importable, the reference checkpoint's tensors
  are mapped onto ``ModelWeights`` fields by name.

Also implements the subword-encode + first-subword-gather convention a
non-context-free encoder (PhoBERT) needs, matching the reference
exactly (reference phonlp/annotate_model.py:382-400 tagger /
annotate_model.py:404-424 parser):

- input ids start with CLS (one position);
- each word contributes its subwords WITHOUT the tokenizer's own
  CLS/SEP (``word_token[1:-1]``);
- ``firstSWindices[w]`` records the running length of input_ids BEFORE
  word w's subwords are appended (so it points at w's first subword);
  the trailing sentinel is dropped;
- the parser variant prepends the [ROOT] pseudo-word's subwords right
  after CLS, so its index 0 is ROOT's first subword;
- the per-word representation is the encoder state at the first
  subword (index_select in the reference, annotate_model.py:161).
"""

from __future__ import annotations

import json
import os
from dataclasses import fields

import numpy as np

from phonlp_spark.kernel.weights import Biaffine, ModelWeights

_BIAFFINES = ("arc", "rel", "lin", "dist")
_SCALARS = ("n_pos", "n_ner", "n_rel")


def save_checkpoint(weights: ModelWeights, save_dir: str) -> str:
    """Write the engine-native checkpoint: weights.npz + meta.json."""
    os.makedirs(save_dir, exist_ok=True)
    arrays: dict[str, np.ndarray] = {}
    for f in fields(ModelWeights):
        if f.name in _BIAFFINES or f.name in _SCALARS:
            continue
        arrays[f.name] = getattr(weights, f.name)
    for b in _BIAFFINES:
        biaff = getattr(weights, b)
        for part in ("w1", "b1", "w2", "b2", "u"):
            arrays[f"{b}.{part}"] = getattr(biaff, part)
    path = os.path.join(save_dir, "weights.npz")
    np.savez(path, **arrays)
    with open(os.path.join(save_dir, "meta.json"), "w") as f:
        json.dump({k: int(getattr(weights, k)) for k in _SCALARS}, f)
    return path


def _from_arrays(arrays, meta: dict) -> ModelWeights:
    def arr(name):
        a = np.asarray(arrays[name])
        return a.astype(np.float32) if a.dtype != np.float32 else a

    biaffs = {
        b: Biaffine(**{p: arr(f"{b}.{p}") for p in ("w1", "b1", "w2", "b2", "u")})
        for b in _BIAFFINES
    }
    flat = {
        f.name: arr(f.name)
        for f in fields(ModelWeights)
        if f.name not in _BIAFFINES and f.name not in _SCALARS
    }
    return ModelWeights(**flat, **biaffs, **{k: int(meta[k]) for k in _SCALARS})


def load_checkpoint(save_dir: str) -> ModelWeights:
    """Load ModelWeights from save_dir.

    Prefers the engine-native npz; falls back to a reference torch
    checkpoint (phonlp.pt) when torch is importable.  Raises
    FileNotFoundError when neither is present.
    """
    npz = os.path.join(save_dir, "weights.npz")
    if os.path.exists(npz):
        with open(os.path.join(save_dir, "meta.json")) as f:
            meta = json.load(f)
        with np.load(npz) as arrays:
            return _from_arrays(arrays, meta)
    pt = os.path.join(save_dir, "phonlp.pt")
    if os.path.exists(pt):
        return _load_torch_checkpoint(pt)
    raise FileNotFoundError(f"no weights.npz or phonlp.pt under {save_dir}")


# Reference state_dict name -> engine field.  Inventory verified
# against the reference JointModel (phonlp/annotate_model.py:44-101:
# upos_hid/upos_clf Linears, upos_emb_matrix_{ner,dep} bare Parameters,
# ner_tag_clf, dep_hid, crit_ner CRF transitions at
# models/common/crf.py:21).  Linear layers are stored [out, in] by
# torch, the engine multiplies x @ W -> transpose on ingest; bare
# Parameters keep their shape.
_TORCH_NAME_MAP = {
    "upos_hid.weight": ("pos_w1", True),
    "upos_hid.bias": ("pos_b1", False),
    "upos_clf.weight": ("pos_w2", True),
    "upos_clf.bias": ("pos_b2", False),
    "upos_emb_matrix_ner": ("upos_emb_ner", False),
    "upos_emb_matrix_dep": ("upos_emb_dep", False),
    "ner_tag_clf.weight": ("ner_w", True),
    "ner_tag_clf.bias": ("ner_b", False),
    "crit_ner._transitions": ("crf_trans", False),
    "dep_hid.weight": ("dep_w", True),
    "dep_hid.bias": ("dep_b", False),
}


def arrays_from_reference_state(state: dict) -> dict[str, np.ndarray]:
    """Map a reference state_dict (as plain numpy arrays) onto engine
    array names.  Torch-free so the mapping itself is unit-testable in
    this sandbox; _load_torch_checkpoint feeds it tensor.numpy()s.

    DeepBiaffineScorer layout (models/common/biaffine.py:68-85):
    {prefix}.W1/.W2 Linears + {prefix}.scorer.W_bilin, whose
    PairwiseBilinear weight is already [D1+1, D2+1, O] (the engine's u
    layout).  Its separate bias multiplies the constant-1 feature pair,
    which is exactly the u[-1, -1, :] corner -> folded in here.
    """
    arrays: dict[str, np.ndarray] = {}
    for tname, (ename, transpose) in _TORCH_NAME_MAP.items():
        t = np.asarray(state[tname])
        arrays[ename] = t.T.copy() if transpose else t
    for b, prefix in (("arc", "unlabeled"), ("rel", "deprel"),
                      ("lin", "linearization"), ("dist", "distance")):
        arrays[f"{b}.w1"] = np.asarray(state[f"{prefix}.W1.weight"]).T.copy()
        arrays[f"{b}.b1"] = np.asarray(state[f"{prefix}.W1.bias"])
        arrays[f"{b}.w2"] = np.asarray(state[f"{prefix}.W2.weight"]).T.copy()
        arrays[f"{b}.b2"] = np.asarray(state[f"{prefix}.W2.bias"])
        u = np.asarray(state[f"{prefix}.scorer.W_bilin.weight"]).copy()
        bias = state.get(f"{prefix}.scorer.W_bilin.bias")
        if bias is not None:
            u[-1, -1, :] = u[-1, -1, :] + np.asarray(bias)
        arrays[f"{b}.u"] = u
    return arrays


def _load_torch_checkpoint(pt_path: str) -> ModelWeights:
    try:
        import torch
    except ImportError as ex:
        raise RuntimeError(
            f"{pt_path} is a torch checkpoint but torch is not installed; "
            "convert it to weights.npz with save_checkpoint() on a "
            "torch-capable host") from ex
    ckpt = torch.load(pt_path, map_location="cpu")
    state = {k: v.numpy() for k, v in ckpt["model"].items()}
    arrays = arrays_from_reference_state(state)
    meta = meta_from_reference_vocab(ckpt["vocab"])
    weights = _from_arrays(arrays, meta)
    check_vocab_shapes(weights)
    return weights


def _vocab_size(v) -> int:
    """Tag-inventory size of one saved vocab.

    The reference BaseVocab.state_dict() is an ATTRIBUTE dict
    (lang/idx/cutoff/lower/_unit2id/_id2unit — models/common/vocab.py:28),
    so len(state_dict) is the attribute count (~6), never the inventory.
    The inventory is len(_id2unit).  Plain id lists (engine-native test
    fixtures) fall through to len().
    """
    if isinstance(v, dict) and "_id2unit" in v:
        return len(v["_id2unit"])
    return len(v)


def meta_from_reference_vocab(vocab: dict) -> dict:
    """n_pos/n_ner/n_rel from a reference MultiVocab.state_dict()
    (keys upos/ner_tag/deprel, trainer.py:171)."""
    return {"n_pos": _vocab_size(vocab["upos"]),
            "n_ner": _vocab_size(vocab["ner_tag"]),
            "n_rel": _vocab_size(vocab["deprel"])}


def check_vocab_shapes(w: ModelWeights) -> None:
    """Cross-check declared vocab sizes against the weight arrays that
    must agree with them: upos_clf bias (n_pos), ner_tag_clf bias
    (n_ner), deprel-biaffine output dim (n_rel)."""
    checks = (("n_pos", w.n_pos, int(w.pos_b2.shape[0])),
              ("n_ner", w.n_ner, int(w.ner_b.shape[0])),
              ("n_rel", w.n_rel, int(w.rel.u.shape[2])))
    bad = [f"{name}={declared} but weight dim is {dim}"
           for name, declared, dim in checks if declared != dim]
    if bad:
        raise ValueError(
            "checkpoint vocab sizes disagree with weight shapes: "
            + "; ".join(bad))


# ---------------------------------------------------------------------------
# subword encode + first-subword gather (PhoBERT-style encoders)
# ---------------------------------------------------------------------------

def first_subword_indices(subword_counts: list[int],
                          root_subwords: int = 0) -> list[int]:
    """firstSWindices for one sentence, the reference convention.

    subword_counts[w] = number of subwords word w tokenizes into (the
    tokenizer's own CLS/SEP already stripped, word_token[1:-1]).
    Positions are relative to input_ids = [CLS] (+ ROOT subwords when
    root_subwords > 0) + word subwords + [SEP], so CLS sits at 0 and
    the first returned index is always 1 — exactly the running-length
    bookkeeping of reference annotate_model.py:386-393 (tagger) and
    405-416 (parser, which prepends the [ROOT] pseudo-word and returns
    one extra leading index for it).
    """
    indices = []
    pos = 1
    if root_subwords:
        indices.append(pos)      # ROOT's first subword
        pos += root_subwords
    for c in subword_counts:
        indices.append(pos)      # word w's first subword
        pos += c
    return indices


def demo_subword_encoder(dim: int = 64):
    """Deterministic multi-subword SubwordEncoder — the sandbox
    stand-in for PhoBERT's tokenizer+transformer pair (reference
    annotate_model.py:382-424): every word of >=2 chars splits into two
    subwords (head + '##'-prefixed tail), each subword embeds via the
    hashed n-gram encoder, and the per-word vector is the FIRST
    subword's embedding.  Exercises the real gather convention through
    any consumer (incl. the Spark mapInArrow stage) with no torch."""
    from phonlp_spark.kernel.encoder import HashedNgramEncoder

    base = HashedNgramEncoder(dim=dim)

    def tokenize(w: str) -> list[str]:
        if len(w) < 2:
            return [w]
        mid = len(w) // 2
        return [w[:mid], "##" + w[mid:]]

    def embed(subs: list[str]) -> np.ndarray:
        return np.stack([base._word_vec(s) for s in subs])

    return SubwordEncoder(tokenize, embed, dim=dim)


def subword_demo_kernel():
    """Zero-arg kernel factory for annotate_sentences_df's
    kernel_factory hook: the standard kernel encoding through
    demo_subword_encoder.  Importable module path, so Spark workers can
    unpickle it."""
    from phonlp_spark.kernel.annotate import AnnotationKernel

    k = AnnotationKernel()
    k.encoder = demo_subword_encoder(dim=64)
    return k


class SubwordEncoder:
    """Encoder-protocol adapter for subword tokenizers.

    tokenize(word) -> list[str] subwords; embed(subwords) -> [n, dim]
    float32 (for PhoBERT this is the transformer forward over the full
    sequence; any per-subword embedding works here — the LAYOUT AND
    GATHER are what this class pins down).  encode_padded returns the
    first-subword vector per word — the same contract as
    HashedNgramEncoder, so the annotation kernel is encoder-agnostic
    (reference gather: annotate_model.py:161 index_select on
    first_subword).
    """

    def __init__(self, tokenize, embed, dim: int):
        self.tokenize = tokenize
        self.embed = embed
        self.dim = dim

    def encode_padded(self, sentences: list[list[str]], max_len: int) -> np.ndarray:
        out = np.zeros((len(sentences), max_len, self.dim), dtype=np.float32)
        for i, sent in enumerate(sentences):
            subs: list[str] = []
            counts = []
            for w in sent:
                ws = self.tokenize(w)
                counts.append(len(ws))
                subs.extend(ws)
            if not subs:
                continue
            # indices are positions inside [CLS]+subwords+[SEP]; the
            # embedding below covers subwords only -> shift by the CLS slot.
            # A zero-subword word keeps the reference behavior of pointing
            # at the NEXT position (its successor's first subword); when
            # that overflows — zero-subword FINAL word, where the
            # reference gathers the SEP slot that this embedding doesn't
            # carry — clamp to the last real subword instead of indexing
            # out of bounds.
            gather = [min(ix - 1, len(subs) - 1)
                      for ix in first_subword_indices(counts)]
            emb = np.asarray(self.embed(subs), dtype=np.float32)
            out[i, : len(sent)] = emb[gather]
        return out
