"""comparador_de_registros_spark — a PySpark-native record-matching and
near-duplicate detection/clustering engine.

Re-expresses the matching semantics of the reference engine
(marco-jardim/Comparador-de-Registros, a pandas/rapidfuzz/jellyfish
record-linkage scorer — see /root/reference) as a Spark-first pipeline:

* ``functions``  — scalar parity layer (normalization, phonetics, fuzzy
  ratios) as Spark Column expressions where expressible, batch Python
  otherwise (used only inside vectorized pandas/Arrow UDFs).
* ``plans``      — declarative specs (CompareSpec, Shingle/MinHash/LSH
  configs) that parameterize the engine; the spec IS the logical plan.
* ``operators``  — DataFrame -> DataFrame operators: pair scoring,
  frequency aggregation, conversation assembly, shingling, MinHash-LSH,
  substring anchoring, Jaccard verification,
  connected-components clustering, text analysis, similarity search.
* ``sources``    — catalog abstraction (parquet locally, Iceberg
  ``writeTo`` in production) and the deterministic synthetic transcript
  generator.
* ``streaming``  — incremental/batch-checkpoint processing (anti-join
  resume; the reference is batch-only, SURVEY.md §2.10).

Design rules (enforced by tests):
  - no row-at-a-time Python UDFs and no ``rdd.map`` in the data plane;
  - everything expressible in pyspark.sql.functions stays JVM-side;
  - Python touches data only through Arrow-batched pandas UDFs /
    ``mapInPandas`` / ``applyInPandas``.
"""

__version__ = "0.1.0"
