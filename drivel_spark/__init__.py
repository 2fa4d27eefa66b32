"""drivel-spark: a PySpark-native schema-inference + constraint-validation
engine with the capabilities of hgrsd/drivel (infer-then-check + synthetic
data production), built Spark-first for 10^12-row tables.

Layers:

* :mod:`drivel_spark.core` — pure-Python semantic core (schema tree,
  merge lattice, detectors, emitters, JSON-Schema parser, generator).
* :mod:`drivel_spark.profiling` — distributed partition-parallel profiling
  (one ``mapInArrow`` pass of mergeable per-column sketch accumulators,
  folded on the driver).
* :mod:`drivel_spark.constraints` — constraint compilation + validation
  pass (per-partition pass/fail rows, violation DataFrames, drift).
* :mod:`drivel_spark.produce` — distributed synthetic-data production
  (spark.range column generators + audio payload synthesis).
* :mod:`drivel_spark.checkpoint` — per-partition commit / resume.
* :mod:`drivel_spark.ops` — training-data pipeline operators (dedup,
  similarity search, text analysis, multimodal plumbing).
"""

__version__ = "0.1.0"
