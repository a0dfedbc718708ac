"""pipeline311_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of
CityOfPhiladelphia/311-data-pipeline (reference snapshot at
/root/reference), extended with large-scale training-data pipeline
operators (dedup, similarity search, text analysis, multimodal columns).

Everything is DataFrame/SQL: logical plans are declared with the
DataFrame API (or SQL) and Catalyst/Tungsten/AQE pick the physical
strategy.  Python UDFs appear only where Spark has no builtin (stubbed
multimodal decoders, custom grouped operators), and always as
Arrow-batched pandas UDFs.  NFKD->ASCII normalization runs in the JVM
(ICU4J via ``reflect``).

Layout (see SURVEY.md section 7.1):
  session.py    SparkSession factory (AQE on, tz pinned)
  schemas.py    StructType constants for every tier + testdata tables
  sources/      readers + runtime schema validation (SURVEY §2.1)
  functions/    the cleaning kernel P1..P19 as Column functions (§2.3)
  operators/    filters/joins/aggregates/setops/merge/reconcile (§2.4-2.7)
  sinks/        writers incl. batched-retry foreachPartition sink (§2.2)
  streaming/    watermark incremental driver + structured streaming (§2.8)
  ext/          dedup / similarity / text analysis / multimodal (north star)
  plans/        the query registry consumed by __spark_entry__.py
"""

__version__ = "0.1.0"
