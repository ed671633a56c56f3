"""cypher_guard_spark — PySpark-native KG-construction pipeline + Cypher guard.

A from-scratch reimplementation of the capabilities of the reference
`neo4j-field/cypher-guard` (a Rust Cypher parser/validator), re-expressed
for Apache Spark:

- ``cypher_guard_spark.guard``: pure-Python, Spark-free Cypher parser and
  schema validator with verdict/error-string parity to the reference
  (see SURVEY.md §2 for the file:line behavior map).
- ``cypher_guard_spark.spark``: vectorized pandas-UDF wrappers (broadcast
  DbSchema, Arrow-batched verdicts).
- ``cypher_guard_spark.pipeline``: the KG-construction pipeline
  (documents → mentions → triples → canonicalization → MERGE batches →
  validation gate), with per-stage lineage + resume.
- ``cypher_guard_spark.ops``: training-data operations (dedup, similarity
  search, text analysis, multimodal plumbing).
"""

from . import _zipimport_cache

__version__ = "0.1.0"

# Spark's Python worker re-reads pyspark.zip and the Spark jar at the start
# of every task on Python < 3.12; see _zipimport_cache.
_zipimport_cache.install()
