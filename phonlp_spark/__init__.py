"""phonlp_spark — a PySpark-native knowledge-graph construction engine.

Re-expresses the query/data-processing capabilities of VinAIResearch/PhoNLP
(joint Vietnamese POS tagging / NER / dependency parsing; see
/root/reference) as a distributed, Spark-first triple factory:

  documents (interleaved text+media spans)
    -> sentence explode (salted, skew-aware)
    -> Arrow-vectorized annotation kernel (mapInArrow; pure numpy)
    -> mentions + (subj, pred, obj) triples
    -> broadcast-dictionary entity linking
    -> connected-components canonicalization (large-star/small-star)
    -> nodes/edges tables + per-partition manifest (resumable)

The per-sentence decode semantics (CRF Viterbi, Chu-Liu/Edmonds MST,
BIOES mention decode, biaffine scoring shapes) mirror the reference's
behavior; all implementations here are written from scratch on public
algorithms. Citations to reference file:line live in the docstrings of
each module so parity can be audited.
"""

__version__ = "0.1.0"
