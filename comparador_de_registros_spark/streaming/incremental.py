"""Incremental processing primitives.

* :func:`incremental_candidates` — delta dedup: newly arrived
  conversations are signed and banded, then joined against the FULL
  corpus's band table (new x all instead of all x all), so no
  corpus-vs-corpus pair is enumerated again. The shuffle is NOT
  proportional to the delta: building the corpus band table runs
  ``corpus.unionByName(new).distinct()`` over the whole signature
  table, shingle arrays included, on every call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from comparador_de_registros_spark.operators.lsh import lsh_band_keys
from comparador_de_registros_spark.plans.configs import LshConfig


def _band_table(signatures: DataFrame, cfg: LshConfig) -> DataFrame:
    return signatures.select(
        "conv_id",
        F.posexplode(lsh_band_keys("minhash", cfg)).alias("band", "key"),
    )


def incremental_candidates(
    new_signatures: DataFrame,
    corpus_signatures: DataFrame,
    cfg: LshConfig,
) -> DataFrame:
    """Candidate pairs between NEW conversations and the whole corpus
    (including new-vs-new), without re-enumerating corpus-vs-corpus.
    -> (a, b, sources=['lsh_incr']) with a < b, one row per pair — the
    candidate contract :func:`verify_pairs` consumes."""
    new_keyed = _band_table(new_signatures, cfg)
    all_keyed = _band_table(
        corpus_signatures.unionByName(new_signatures).distinct(), cfg
    )
    return (
        new_keyed.alias("n")
        .join(all_keyed.alias("c"), ["band", "key"])
        .where(F.col("n.conv_id") != F.col("c.conv_id"))
        .select(
            F.least("n.conv_id", "c.conv_id").alias("a"),
            F.greatest("n.conv_id", "c.conv_id").alias("b"),
        )
        .distinct()
        .withColumn("sources", F.array(F.lit("lsh_incr")))
    )
