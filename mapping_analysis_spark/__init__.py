"""mapping_analysis_spark — a PySpark-native entity-matching + clustering engine.

A from-scratch re-expression of the capabilities of the reference system
(freeclimbing/mapping-analysis, a Flink/Gelly batch entity-resolution engine)
as an idiomatic PySpark engine:

* batch core: DataFrame-declarative blocking → similarity → matching →
  clustering → representative pipeline (``pipeline.py``)
* streaming: Structured Streaming micro-batch wrapper with event-time
  watermarks, session windows, and an incremental clustering job driven by
  foreachBatch over exactly-once snapshot state tables (``streaming/``)
* training-data ops: dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard /
  embedding cosine), ANN search, text quality analysis (``operators/``)

Everything here derives from public knowledge only: the Apache Spark API and
the observable behavior of the reference repo (cited file:line in docstrings).
"""

__version__ = "0.1.0"
