"""clip_retrieval_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch reimagination of rom1504/clip-retrieval's batched
embedding-and-index workflow (reference at /root/reference, studied for
semantics only) as a four-stage DataFrame DAG over web-page tables:

  1. HTML -> text extraction      (clip_retrieval_spark.operators.extract)
  2. OpenIE-style triple extract  (clip_retrieval_spark.operators.triples)
  3. entity linking               (embed + lsh + link)
  4. canonicalization             (connected components, materialize)

plus the general-purpose operator library (dedup, similarity search,
text analysis) that a large-scale training-data pipeline needs.

Everything is pyspark.sql DataFrames; per-row heavy work is Arrow-batched
``mapInArrow``/``mapInPandas`` (model/extractor loaded once per Python
worker — the clip-retrieval inference pattern, reference
clip_inference/mapper.py:16-78).
"""

__version__ = "0.1.0"
