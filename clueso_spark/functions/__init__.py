"""Column-function libraries for the training-data-pipeline tier.

All helpers return JVM-side Column expressions (built-in functions +
higher-order lambdas) -- no row-at-a-time Python anywhere. The only
Python-boundary code in the package is the Arrow-batched ``mapInPandas``
multimodal featurizer in :mod:`clueso_spark.functions.multimodal`, where
byte-level decoding genuinely cannot be expressed as Column algebra.

The vector helpers re-exported here (``dot``, ``cosine_similarity``,
``squared_l2``, ``squared_norm``) are the similarity tier's only vector
arithmetic; plans call them instead of writing fold strings inline.
"""

from clueso_spark.functions.text import (  # noqa: F401
    bigrams,
    doc_fingerprint,
    tokens,
    word_shingles,
)
from clueso_spark.functions.vectors import (  # noqa: F401
    cosine_similarity,
    dot,
    squared_l2,
    squared_norm,
)
