"""Candidate generators and the metrics the verify stage records for
them, plus the sign stage's narrowness-probe fallback.

The generators are MinHash-LSH bands and winnowed substring anchors;
SimHash blocking was removed (plans/configs.py explains why), so no
candidate may carry a ``simhash`` source and the retired slot of
``unified_candidates`` rejects a config; the anchor generator always
runs, so its retired on/off slot rejects False.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from comparador_de_registros_spark.operators import lsh as lsh_ops
from comparador_de_registros_spark.operators.pipeline import (
    T_CAND,
    T_METRICS,
    T_SIGN,
    T_VERIFIED,
    DedupPipeline,
)
from comparador_de_registros_spark.operators.signatures import scan_is_narrow
from comparador_de_registros_spark.plans.configs import DedupConfig
from comparador_de_registros_spark.sources import transcripts as tg
from comparador_de_registros_spark.sources.catalog import ParquetCatalog

GENS = ("lsh", "substring")


def test_verify_metrics_per_generator_dups(spark, tmp_path):
    """The verify stage records, for each generator, its dups
    (``n_dups_<gen>``) and the dups only it found (``n_dups_only_<gen>``,
    sources == [gen]) in the metrics table."""
    turns = tg.generate_transcripts(spark, tg.TranscriptSpec(n_base=40, seed=7))
    catalog = ParquetCatalog(str(tmp_path))
    pipe = DedupPipeline(catalog=catalog, cfg=DedupConfig(), run_id="gen")
    pipe.run(spark, turns)

    rows = catalog.read(spark, f"{T_METRICS}/gen_verify").collect()
    got = {r["metric"]: r["value"] for r in rows}
    names = {f"n_dups_{g}" for g in GENS} | {f"n_dups_only_{g}" for g in GENS}
    assert names <= got.keys()
    assert not any("simhash" in m for m in got)

    verified = catalog.read(spark, T_VERIFIED).where("is_dup")
    for g in GENS:
        assert got[f"n_dups_{g}"] == verified.where(
            F.array_contains("sources", g)
        ).count()
        assert got[f"n_dups_only_{g}"] == verified.where(
            F.col("sources") == F.array(F.lit(g))
        ).count()
    assert got["n_dups_lsh"] > 0

    sources = {
        s
        for r in catalog.read(spark, T_CAND).select("sources").collect()
        for s in r["sources"]
    }
    assert sources <= set(GENS), sources
    assert "simhash" not in catalog.read(spark, T_SIGN).columns


def test_unified_candidates_rejects_simhash_config(spark):
    sigs = spark.createDataFrame(
        [], "conv_id string, minhash array<int>, anchors array<bigint>"
    )
    with pytest.raises(ValueError, match="SimHash"):
        lsh_ops.unified_candidates(sigs, DedupConfig().lsh, object(), True)


def test_unified_candidates_rejects_substring_off(spark):
    sigs = spark.createDataFrame(
        [], "conv_id string, minhash array<int>, anchors array<bigint>"
    )
    with pytest.raises(ValueError, match="substring"):
        lsh_ops.unified_candidates(sigs, DedupConfig().lsh, None, False)


class _FailingJsc:
    """A JavaSparkContext stand-in whose FileSystem access fails."""

    def hadoopConfiguration(self):
        raise RuntimeError("FileSystem unavailable")


def test_scan_is_narrow_falls_back_when_filesystem_fails(spark, tmp_path, monkeypatch):
    """The narrowness probe is a heuristic: when the file-metadata calls
    raise, it answers from the scan's partition count instead of
    failing the query."""
    path = str(tmp_path / "t")
    spark.range(100).repartition(3).write.parquet(path)
    df = spark.read.parquet(path)
    parts = df.rdd.getNumPartitions()
    monkeypatch.setattr(spark, "_jsc", _FailingJsc())
    assert scan_is_narrow(spark, df, parts + 1) is True
    assert scan_is_narrow(spark, df, parts) is False
