"""customer_360_etl_pipeline_on_azure_cloud_spark — a PySpark-native analytics engine.

A brand-new, Spark-first re-expression of the query/data-processing
capabilities of the reference Customer-360 ETL pipeline
(reference: /root/reference/ETL_pipeline.py), generalized into a reusable
operator library plus large-scale training-data-pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing).

Design principles (100 TB-minded):

* **DataFrame-declarative.** Every operator takes and returns
  ``pyspark.sql.DataFrame``; Catalyst owns optimization (pushdown,
  pruning, join selection). No RDDs in the hot path.
* **JVM-side expressions.** The full reference surface is expressible
  with built-in column expressions (SURVEY.md §2.11) — whole-stage
  codegen stays intact. Pandas UDFs (Arrow) only where built-ins
  genuinely cannot express the op (SimHash bit-packing, media decode).
* **Shuffle-aware.** Small dimensions are broadcast; pivots declare
  their values (no extra distinct job); two-pass scalar patterns
  (quantile segmentation) collect a single row, never data.
* **Deterministic semantics.** Where the reference is non-deterministic
  (unordered ``limit``, ``monotonically_increasing_id`` zip,
  ``row_number`` ties — SURVEY.md §0.1) this engine defines ordered,
  tie-broken variants.
"""

import sys

from pyspark import cloudpickle as _cloudpickle

__version__ = "0.1.0"

# Python workers do not inherit the driver's sys.path: a UDF closure that
# references a package function pickles it by import path, and a driver
# that imports the package through sys.path alone then fails in the
# worker with ModuleNotFoundError.  Pickling the package by value ships
# the referenced functions with the closure instead.
_cloudpickle.register_pickle_by_value(sys.modules[__name__])
