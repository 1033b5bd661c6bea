"""Round-6 optimization invariants.

Each optimization that changed an operator's internals gets a focused
pin here: the medium (broadcast-sig) verify plan, the exact size-bound
prune's NULL-jaccard contract, the bit_or source-mask reconstruction,
and the stale-checkpoint migration guard in stage_exact.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from comparador_de_registros_spark.operators import doc_dedup
from comparador_de_registros_spark.operators.lsh import unified_candidates
from comparador_de_registros_spark.operators.verify import (
    release_scored,
    verify_pairs,
)
from comparador_de_registros_spark.plans.configs import DedupConfig


def _sigs_cand_docs(spark):
    sigs = spark.createDataFrame(
        [
            # near-identical pair: 40 shared of 41/41
            ("p1", list(range(40)) + [100]),
            ("p2", list(range(40)) + [101]),
            # size-bound-prunable pair: 10 vs 40 elements (ratio 0.25)
            ("q1", list(range(10))),
            ("q2", list(range(40))),
        ],
        "conv_id string, shingles array<int>",
    )
    cand = spark.createDataFrame(
        [
            ("p1", "p2", ["lsh"]),
            ("q1", "q2", ["lsh", "simhash"]),
        ],
        "a string, b string, sources array<string>",
    )
    docs = spark.createDataFrame(
        [(c, f"text {c}") for c in ("p1", "p2", "q1", "q2")],
        "conv_id string, norm string",
    )
    return sigs, cand, docs


def test_verify_medium_plan_broadcasts_sigs_and_matches_large(spark, monkeypatch):
    """With the pair count known and the participant set inside the
    broadcast gates, verify must take the broadcast-sig plan (no
    SortMergeJoin anywhere, sig side broadcast) and produce exactly the
    large plan's rows."""
    from comparador_de_registros_spark.operators import verify

    sigs, cand, docs = _sigs_cand_docs(spark)
    cfg = DedupConfig()
    # force past the small plan; medium gates pass (2 rows, tiny)
    monkeypatch.setattr(verify, "_SMALL_CANDIDATES_MAX", 0)
    out_med = verify_pairs(cand, sigs, docs, cfg, n_candidates=2)
    # force the shared-exchange plan
    monkeypatch.setattr(verify, "_BROADCAST_SIGS_MAX", 0)
    out_large = verify_pairs(cand, sigs, docs, cfg, n_candidates=2)
    try:
        plan = out_med._jdf.queryExecution().executedPlan().toString()
        rows_med = sorted(
            (r["a"], r["b"], r["jaccard"], r["is_dup"])
            for r in out_med.collect()
        )
        assert "SortMergeJoin" not in plan
        rows_large = sorted(
            (r["a"], r["b"], r["jaccard"], r["is_dup"])
            for r in out_large.collect()
        )
        assert rows_med == rows_large
    finally:
        release_scored(out_med)
        release_scored(out_large)


def test_size_bound_prune_null_jaccard_contract(spark):
    """Pairs the size bound proves below threshold carry jaccard=NULL
    and is_dup=False (never NULL); pairs that can pass keep the exact
    value; substring-sourced pairs are never pruned."""
    sigs, cand, docs = _sigs_cand_docs(spark)
    cand = cand.unionByName(
        spark.createDataFrame(
            [("q1", "q2", ["substring"])],
            "a string, b string, sources array<string>",
        )
    ).groupBy("a", "b").agg(
        F.array_sort(F.flatten(F.collect_list("sources"))).alias("sources")
    )
    out = verify_pairs(cand, sigs, docs, DedupConfig(), n_candidates=2)
    try:
        rows = {(r["a"], r["b"]): r for r in out.collect()}
        # exact pair: J = 40/42 ≈ 0.952 — exact value present
        assert rows[("p1", "p2")]["jaccard"] == pytest.approx(40 / 42)
        assert rows[("p1", "p2")]["is_dup"] is True
        # q pair is substring-sourced -> NOT pruned despite ratio 0.25:
        # exact jaccard = 10/40
        assert rows[("q1", "q2")]["jaccard"] == pytest.approx(0.25)
        assert rows[("q1", "q2")]["is_dup"] is False
    finally:
        release_scored(out)


def test_size_bound_prune_nulls_only_provable_fails(spark):
    """Non-substring pair with size ratio < threshold is pruned to
    NULL jaccard with is_dup exactly False (not NULL), and every
    candidate still appears in the output."""
    sigs, cand, docs = _sigs_cand_docs(spark)
    out = verify_pairs(cand, sigs, docs, DedupConfig(), n_candidates=2)
    try:
        rows = {(r["a"], r["b"]): r for r in out.collect()}
        assert len(rows) == 2  # every candidate accounted
        assert rows[("q1", "q2")]["jaccard"] is None
        assert rows[("q1", "q2")]["is_dup"] is False
        assert rows[("p1", "p2")]["jaccard"] == pytest.approx(40 / 42)
    finally:
        release_scored(out)


def test_unified_candidates_sources_sorted_multi_generator(spark):
    """The bit_or mask reconstruction must reproduce
    array_sort(collect_set(source)): two identical docs are caught by
    both generators."""
    text = "the quick brown fox jumps over the lazy dog " * 10
    docs = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    verified = doc_dedup.signature_dup_pairs(docs, DedupConfig())
    try:
        rows = verified.collect()
        pair = [r for r in rows if r["a"] == "1" and r["b"] == "2"]
        assert pair, rows
        assert pair[0]["sources"] == ["lsh", "substring"]
        assert pair[0]["is_dup"] is True
    finally:
        doc_dedup.release_signature_run(verified)


def test_stage_exact_rejects_pre_doc_hash_checkpoint(spark, tmp_path):
    """Resuming over a docs checkpoint written before doc_hash moved
    into assemble must fail with the migration message, not an opaque
    AnalysisException."""
    from comparador_de_registros_spark.operators.pipeline import (
        DedupPipeline,
        T_DOCS,
    )
    from comparador_de_registros_spark.sources.catalog import ParquetCatalog

    catalog = ParquetCatalog(str(tmp_path))
    old_docs = spark.createDataFrame(
        [("c1", "doc text", "doc text", 1, 8)],
        "conv_id string, doc string, norm string, n_turns long, n_chars long",
    )
    catalog.write(old_docs, T_DOCS)
    pipe = DedupPipeline(catalog=catalog, cfg=DedupConfig(), run_id="t")
    with pytest.raises(ValueError, match="doc_hash.*assemble"):
        pipe.stage_exact(spark)
