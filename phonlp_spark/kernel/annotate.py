"""Fused joint POS/NER/dep-parse annotation forward + decode.

This is both the single-process oracle and the per-Arrow-batch worker
kernel (the Spark stage in phonlp_spark/pipeline/annotate.py calls this
function inside mapInArrow — identical code path by construction).

Dataflow parity with the reference (phonlp/annotate_model.py):

1. encode [ROOT]-prefixed word sequence ONCE and reuse rows 1..n for
   the tagger heads.  The reference runs its encoder twice with inputs
   differing only by the [ROOT] prefix (annotate_model.py:256-257);
   with a context-free encoder the two runs are identical, so the
   engine halves encoder cost with unchanged decode inputs
   (SURVEY.md §4 "engine improvement").
2. POS: 2-layer MLP head, argmax -> hard tags (annotate_model.py:44-45,
   135-138); softmax distribution (NOT the hard tag) feeds task-specific
   tag-embedding matrices for NER and DEP (annotate_model.py:47-52,
   140-144,177-181).
3. NER: linear head over [enc ⊕ pos_emb]; ReLU is applied to the
   logits BEFORE CRF decode — a reference quirk kept for parity
   (annotate_model.py:150); batched Viterbi (crf.py:103-126).
4. DEP: linear hidden layer, deep-biaffine arc/label scorers plus
   linearization (logsigmoid(lin·sign(offset))) and distance
   (-log((|off|-(1+softplus(d)))²/2+1)) terms (annotate_model.py:
   189-208), diagonal -inf mask (:210-211), per-dependent log-softmax
   over heads, Chu-Liu/Edmonds single-root MST per sentence with the
   [1:] root strip (:260-262), label = argmax rel score at
   [dep+1, head] (:263-266).

Engine-pinned deviations (applied identically in oracle and engine, so
parity tests stay exact):
- special ids [PAD, UNK, EMPTY, ROOT] are masked out of every decode
  argmax (a trained model never emits them; seeded weights could);
- the per-dependent log-softmax is taken over the sentence's own
  cropped width rather than the padded batch width — a per-row constant
  shift that provably never changes the decoded tree, but makes results
  independent of batch composition.
"""

from __future__ import annotations

import numpy as np

from phonlp_spark.kernel.bioes import spans_from_bioes
from phonlp_spark.kernel.encoder import ROOT_TOKEN, HashedNgramEncoder
from phonlp_spark.kernel.mst import mst_single_root
from phonlp_spark.kernel.triples import extract_triples
from phonlp_spark.kernel.viterbi import viterbi_batch
from phonlp_spark.kernel.vocab import default_vocabs
from phonlp_spark.kernel.weights import Biaffine, ModelWeights, seeded_weights, special_mask

MAX_SENT_TOKENS = 256  # hard cap; longer sentences are annotated on the
                       # first 256 tokens, overflow tokens get neutral tags
_LEN_BUCKET = 8        # pad-waste bound inside a batch
# Sentences per fused forward: bounds the worker's peak working set
# (and therefore heap growth / first-touch page faults) regardless of
# Arrow batch size.  Swept on a 32-core host with 8 and 32 pinned workers
# (kernel-only microbench, 10-20k sentences/worker): 256 and 128 tie
# within run-to-run noise and both beat the former 512 by 15-60%, with
# the gap WIDEST at 32 workers — the chunk's matmul working set falls
# out of cache exactly when all cores contend for DRAM.
_FORWARD_CHUNK = 256


def _relu(x: np.ndarray) -> np.ndarray:
    return np.maximum(x, 0.0)


def _softmax(x: np.ndarray, axis: int = -1) -> np.ndarray:
    m = x.max(axis=axis, keepdims=True)
    e = np.exp(x - m)
    return e / e.sum(axis=axis, keepdims=True)


def _logsigmoid(x: np.ndarray) -> np.ndarray:
    return np.where(x >= 0, -np.log1p(np.exp(-np.abs(x))), x - np.log1p(np.exp(-np.abs(x))))


def _softplus(x: np.ndarray) -> np.ndarray:
    return np.log1p(np.exp(-np.abs(x))) + np.maximum(x, 0.0)


def _log_softmax_rows(x: np.ndarray) -> np.ndarray:
    """Row-wise log-softmax tolerating -inf entries."""
    m = np.max(x, axis=1, keepdims=True)
    z = np.exp(x - m)
    return x - (m + np.log(z.sum(axis=1, keepdims=True)))


def _biaffine_proj(hid: np.ndarray, bf: Biaffine):
    """Input MLPs + bias feature: hid [B,W,D] -> (h1 [B,W,K], h2 [B,W,L])."""
    h1 = _relu(hid @ bf.w1 + bf.b1)
    h2 = _relu(hid @ bf.w2 + bf.b2)
    ones = np.ones((*h1.shape[:2], 1), dtype=h1.dtype)
    return (np.concatenate([h1, ones], axis=2),
            np.concatenate([h2, ones], axis=2))


def _biaffine_grid(hid: np.ndarray, bf: Biaffine) -> np.ndarray:
    """Full pairwise grid for a SCALAR scorer: -> [B, W(dep), W(head)].

    Two BLAS matmuls (same factorization as the reference's
    PairwiseBilinear broadcast trick, biaffine.py:27-35); used for the
    arc / linearization / distance scorers (out=1).
    """
    h1, h2 = _biaffine_proj(hid, bf)
    B, W, K = h1.shape
    t = (h1.reshape(B * W, K) @ bf.u[:, :, 0]).reshape(B, W, -1)  # [B,W,L]
    return t @ h2.transpose(0, 2, 1)                              # [B,W,W]


def _biaffine_at(h1g: np.ndarray, h2g: np.ndarray, u: np.ndarray) -> np.ndarray:
    """Label scores at SELECTED (dep, head) pairs only.

    h1g [N,K] gathered dep rows, h2g [N,L] gathered head rows ->
    [N, out].  The full [B,W,W,out] label grid is never materialized:
    the decode needs labels only along the MST arcs
    (reference gathers the same way at annotate_model.py:263-266,
    after an argmax over the full grid — we skip the grid entirely,
    which changes nothing because argmax commutes with the gather).
    """
    n, k = h1g.shape
    e = u.shape[2]
    t = (h1g @ u.reshape(k, -1)).reshape(n, u.shape[1], e)  # [N, L, E]
    return (t * h2g[:, :, None]).sum(axis=1)


class AnnotationKernel:
    """Holds weights/vocabs/encoder; one instance per executor process."""

    def __init__(self, weights: ModelWeights | None = None, seed: int = 42, enc_dim: int = 64):
        from phonlp_spark.kernel.runtime import tune_worker_runtime
        tune_worker_runtime()
        self.weights = weights if weights is not None else seeded_weights(seed, enc_dim)
        self.vocabs = default_vocabs()
        self.encoder = HashedNgramEncoder(dim=enc_dim, seed=seed)
        self.mask_pos = special_mask(self.weights.n_pos)
        self.mask_ner = special_mask(self.weights.n_ner)
        self.mask_rel = special_mask(self.weights.n_rel)

    # ------------------------------------------------------------------
    def annotate(self, sentences: list[list[str]]) -> list[dict]:
        """Annotate word-segmented sentences; output order == input order.

        Returns one dict per sentence:
          tokens, upos, ner, head (0=root, CoNLL 1-based ids), deprel,
          mentions [(start, end, type, text)] (inclusive 0-based),
          triples [(subj, pred, obj, subj_type, obj_type, rule)].
        """
        out: list[dict | None] = [None] * len(sentences)
        buckets: dict[int, list[int]] = {}
        for i, s in enumerate(sentences):
            n = min(len(s), MAX_SENT_TOKENS)
            key = ((max(n, 1) + _LEN_BUCKET - 1) // _LEN_BUCKET) * _LEN_BUCKET
            buckets.setdefault(key, []).append(i)
        for idxs in buckets.values():
            for c0 in range(0, len(idxs), _FORWARD_CHUNK):
                chunk = idxs[c0 : c0 + _FORWARD_CHUNK]
                batch = [sentences[i][:MAX_SENT_TOKENS] for i in chunk]
                for i, ann in zip(chunk, self._annotate_bucket(batch)):
                    full = sentences[i]
                    if len(full) > MAX_SENT_TOKENS:
                        ann = _extend_truncated(ann, full)
                    out[i] = ann
        return out  # type: ignore[return-value]

    # ------------------------------------------------------------------
    def _annotate_bucket(self, sentences: list[list[str]]) -> list[dict]:
        w, v = self.weights, self.vocabs
        lengths = np.array([len(s) for s in sentences], dtype=np.int64)
        L = int(lengths.max())
        W = L + 1  # with ROOT at position 0

        emb = self.encoder.encode_padded([[ROOT_TOKEN] + s for s in sentences], W)

        # POS head (shared encoder rows; ROOT row participates in dep path)
        pos_logits = _relu(emb @ w.pos_w1 + w.pos_b1) @ w.pos_w2 + w.pos_b2
        pos_logits = pos_logits + self.mask_pos
        pos_ids = pos_logits.argmax(axis=-1)            # [B, W]
        pos_dis = _softmax(pos_logits, axis=-1)

        # NER branch (no ROOT row)
        x_ner = np.concatenate([emb[:, 1:], pos_dis[:, 1:] @ w.upos_emb_ner], axis=-1)
        ner_logits = _relu(x_ner @ w.ner_w + w.ner_b) + self.mask_ner
        ner_ids = viterbi_batch(ner_logits, lengths, w.crf_trans.astype(np.float64))

        # DEP branch (ROOT row included)
        x_dep = np.concatenate([emb, pos_dis @ w.upos_emb_dep], axis=-1)
        hid = x_dep @ w.dep_w + w.dep_b
        arc = _biaffine_grid(hid, w.arc)                # [B, Wdep, Whead]
        lin = _biaffine_grid(hid, w.lin)
        dist = _biaffine_grid(hid, w.dist)

        pos_idx = np.arange(W, dtype=np.float32)
        off = pos_idx[None, :] - pos_idx[:, None]       # off[dep, head] = head - dep
        arc = arc + _logsigmoid(lin * np.sign(off))
        dist_pred = 1.0 + _softplus(dist)
        arc = arc - np.log((np.abs(off) - dist_pred) ** 2 / 2.0 + 1.0)
        bi = np.arange(W)
        arc[:, bi, bi] = -np.inf

        # MST per sentence, then label only the chosen arcs (batched)
        all_heads: list[np.ndarray] = []
        for i in range(len(sentences)):
            n = int(lengths[i])
            adj = _log_softmax_rows(arc[i, : n + 1, : n + 1])
            all_heads.append(mst_single_root(adj)[1:].astype(np.int64))

        h1r, h2r = _biaffine_proj(hid, w.rel)
        b_idx = np.repeat(np.arange(len(sentences)), lengths)
        dep_pos = np.concatenate([np.arange(1, n + 1) for n in lengths])
        head_pos = np.concatenate(all_heads) if all_heads else np.zeros(0, np.int64)
        rel_scores = _biaffine_at(h1r[b_idx, dep_pos], h2r[b_idx, head_pos],
                                  w.rel.u) + self.mask_rel
        rel_flat = rel_scores.argmax(axis=1)
        bounds = np.cumsum(lengths)[:-1]
        rel_per_sent = np.split(rel_flat, bounds)

        results = []
        for i, sent in enumerate(sentences):
            n = int(lengths[i])
            heads = all_heads[i].tolist()
            deprel = v["deprel"].unmap(rel_per_sent[i])
            upos = v["upos"].unmap(pos_ids[i, 1 : n + 1])
            ner = v["ner_tag"].unmap(ner_ids[i, :n])
            mentions = [
                (s, e, t, " ".join(sent[s : e + 1]))
                for (s, e, t) in spans_from_bioes(ner)
            ]
            triples = extract_triples(sent, upos, heads, deprel,
                                      [(s, e, t) for (s, e, t, _) in mentions])
            results.append({
                "tokens": list(sent), "upos": upos, "ner": ner,
                "head": heads, "deprel": deprel,
                "mentions": mentions, "triples": triples,
            })
        return results


def _extend_truncated(ann: dict, full_tokens: list[str]) -> dict:
    """Pad neutral tags onto tokens beyond MAX_SENT_TOKENS (cap behavior).

    Overflow tokens chain onto the previous token (never head=0): the
    MST guarantees a single root, and downstream CoNLL consumers assume
    that invariant — padding must not introduce extra roots.
    """
    base = len(ann["tokens"])
    extra = len(full_tokens) - base
    ann = dict(ann)
    ann["tokens"] = list(full_tokens)
    ann["upos"] = ann["upos"] + ["N"] * extra
    ann["ner"] = ann["ner"] + ["O"] * extra
    ann["head"] = ann["head"] + [base + i for i in range(extra)]
    ann["deprel"] = ann["deprel"] + ["dep"] * extra
    return ann


_DEFAULT_KERNEL: AnnotationKernel | None = None


def default_kernel() -> AnnotationKernel:
    """Process-wide singleton (one weight set per executor worker).

    When PHONLP_SPARK_CHECKPOINT names a checkpoint directory (ship it
    via ``spark-submit --conf spark.executorEnv.PHONLP_SPARK_CHECKPOINT=
    /path`` plus ``--files``), the trained weights are loaded once per
    worker process instead of the seeded sandbox weights — the
    production path of reference run_script.py:19-38.
    """
    global _DEFAULT_KERNEL
    if _DEFAULT_KERNEL is None:
        import os
        ckpt_dir = os.environ.get("PHONLP_SPARK_CHECKPOINT")
        if ckpt_dir:
            from phonlp_spark.kernel.checkpoint import load_checkpoint
            _DEFAULT_KERNEL = AnnotationKernel(weights=load_checkpoint(ckpt_dir))
        else:
            _DEFAULT_KERNEL = AnnotationKernel()
    return _DEFAULT_KERNEL


def annotate_sentences(sentences: list[list[str]]) -> list[dict]:
    """Module-level convenience using the default seeded kernel."""
    return default_kernel().annotate(sentences)
