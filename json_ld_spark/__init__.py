"""json_ld_spark — a PySpark-native knowledge-graph construction engine.

Capabilities mirror lo48576/json-ld's algorithmic surface (JSON-LD 1.1
context processing / IRI expansion) re-expressed Spark-first, plus the
pipeline layer that applies them at transcript scale: triple extraction via
Arrow-batched pandas kernels, entity linking, block canonicalization,
manifest-driven resume, and skew-aware aggregation.
"""

__version__ = "0.1.0"
