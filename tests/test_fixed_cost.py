"""Fixed-cost paths of the engine: driver-built frames go through Arrow
with explicit schemas, checkpoint reads take the schema from the part
file footer (falling back to inference), and no operator mutates the
session-global conf."""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from comparador_de_registros_spark.conf import local_frame
from comparador_de_registros_spark.operators.pipeline import (
    LINEAGE_SCHEMA,
    METRICS_SCHEMA,
    DedupPipeline,
)
from comparador_de_registros_spark.sources import transcripts as tg
from comparador_de_registros_spark.sources.catalog import ParquetCatalog

METRICS_TYPES = [
    ("run_id", "string"),
    ("stage", "string"),
    ("metric", "string"),
    ("value", "double"),
    ("logged_at", "double"),
]
LINEAGE_TYPES = [
    ("run_id", "string"),
    ("stage", "string"),
    ("table", "string"),
    ("file", "string"),
    ("n_rows", "bigint"),
    ("n_bytes", "bigint"),
    ("logged_at", "double"),
]
CHECKPOINTS = (
    "docs", "exact_map", "signatures", "candidates", "dropped_buckets",
    "verified", "clusters",
)


def _tables(catalog: ParquetCatalog) -> list[str]:
    """Every table a pipeline run left in ``catalog``: the stage
    checkpoints and each metrics / lineage table."""
    out = [t for t in CHECKPOINTS if catalog.exists(t)]
    for group in ("metrics", "lineage"):
        root = catalog.path(group)
        out += [f"{group}/{n}" for n in sorted(os.listdir(root))]
    return out


@pytest.fixture(scope="module")
def small_runs(spark, tmp_path_factory):
    """One small pipeline run per metrics mode, each in its own catalog."""
    turns = tg.generate_transcripts(spark, tg.TranscriptSpec(n_base=40, seed=5))
    runs = {}
    for mode in ("immediate", "deferred"):
        catalog = ParquetCatalog(str(tmp_path_factory.mktemp(mode)))
        DedupPipeline(catalog=catalog, run_id=mode[:3], metrics_mode=mode).run(
            spark, turns
        )
        runs[mode] = catalog
    return runs


@pytest.mark.parametrize("mode", ["immediate", "deferred"])
def test_metrics_and_lineage_tables_keep_types(spark, small_runs, mode):
    catalog = small_runs[mode]
    tables = _tables(catalog)
    metrics = [t for t in tables if t.startswith("metrics/")]
    lineage = [t for t in tables if t.startswith("lineage/")]
    # immediate: one table per stage write; deferred: one of each
    assert len(metrics) >= (6 if mode == "immediate" else 1)
    assert lineage
    for names, types in ((metrics, METRICS_TYPES), (lineage, LINEAGE_TYPES)):
        for t in names:
            assert catalog.read(spark, t).dtypes == types, t
            assert spark.read.parquet(catalog.path(t)).dtypes == types, t
    n_cand = {
        r["metric"]: r["value"]
        for t in metrics
        for r in catalog.read(spark, t).collect()
        if r["stage"] == "candidates"
    }["n_candidates"]
    assert n_cand == catalog.read(spark, "candidates").count()


@pytest.mark.parametrize(
    "schema,types", [(METRICS_SCHEMA, METRICS_TYPES), (LINEAGE_SCHEMA, LINEAGE_TYPES)]
)
def test_empty_driver_frame_keeps_types(spark, tmp_path, schema, types):
    catalog = ParquetCatalog(str(tmp_path))
    df = local_frame(spark, [], schema)
    assert df.dtypes == types
    catalog.write(df, "empty", num_files=1)
    back = catalog.read(spark, "empty")
    assert back.dtypes == types
    assert back.count() == 0


def test_catalog_read_schema_matches_inference(spark, small_runs):
    """The footer schema is taken for every table a run writes, and it
    is exactly the schema spark.read.parquet infers."""
    catalog = small_runs["immediate"]
    for t in _tables(catalog):
        assert ParquetCatalog._footer_schema(catalog.path(t)) is not None, t
        assert (
            catalog.read(spark, t).schema
            == spark.read.parquet(catalog.path(t)).schema
        ), t


def test_catalog_read_falls_back_without_spark_metadata(spark, tmp_path):
    catalog = ParquetCatalog(str(tmp_path))
    os.makedirs(catalog.path("foreign"))
    table = pa.table({"conv_id": ["a", "b"], "n": pa.array([1, 2], pa.int64())})
    pq.write_table(table, os.path.join(catalog.path("foreign"), "part-0.parquet"))
    assert ParquetCatalog._footer_schema(catalog.path("foreign")) is None
    df = catalog.read(spark, "foreign")
    assert df.dtypes == [("conv_id", "string"), ("n", "bigint")]
    assert sorted(map(tuple, df.collect())) == [("a", 1), ("b", 2)]


def test_no_operator_sets_session_conf():
    """Session conf is shared by every concurrent job of the session:
    operators size their shuffles with explicit partition counts."""
    import comparador_de_registros_spark.operators as ops

    root = os.path.dirname(ops.__file__)
    offenders = []
    for fn in sorted(os.listdir(root)):
        if not fn.endswith(".py"):
            continue
        with open(os.path.join(root, fn)) as fh:
            offenders += [
                f"{fn}:{i}"
                for i, line in enumerate(fh, 1)
                if re.search(r"\.conf\.set\(", line)
            ]
    assert not offenders, offenders
