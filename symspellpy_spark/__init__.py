"""symspellpy_spark — a PySpark-native fuzzy-match / near-duplicate engine.

A from-scratch re-expression of the query and data-processing
capabilities of ``mammothb/symspellpy`` (reference at /root/reference,
studied for *behavior* only) as idiomatic Spark DataFrame plans:

- the symmetric-delete candidate index (``_deletes``,
  reference symspellpy/symspellpy.py:108) becomes a ``deletes(delete_key,
  term)`` DataFrame built with pure Catalyst expressions (explode over
  deletion positions — no Python in the hot path),
- ``lookup`` / ``lookup_compound`` / ``word_segmentation`` become one
  Arrow kernel per operator, fed by a per-worker resolver or, above the
  broadcast limit, by batch joins + window ranks,
- the distance kernels are numpy-vectorized pandas UDFs,
- and the whole thing powers a web-scale near-dup pipeline
  (MinHash-LSH, SimHash, suffix-array substring pass, verified pairs,
  hash-min connected components).
"""

from symspellpy_spark.config import EngineConfig, Verbosity
from symspellpy_spark.session import get_spark

__version__ = "0.1.0"

__all__ = ["EngineConfig", "Verbosity", "get_spark", "__version__"]
