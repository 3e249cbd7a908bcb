"""Pure-numpy annotation kernel (no Spark imports).

This package is the single-process "oracle" AND the per-batch worker
kernel: the Spark pipeline ships these functions to executors inside
mapInArrow, so engine-vs-oracle parity is exact by construction.
"""

from phonlp_spark.kernel.vocab import Vocab, default_vocabs  # noqa: F401
from phonlp_spark.kernel.weights import ModelWeights, seeded_weights  # noqa: F401
from phonlp_spark.kernel.annotate import annotate_sentences  # noqa: F401
