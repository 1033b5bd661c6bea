"""End-to-end dedup pipeline tests: recall gate vs brute-force oracle,
ordering invariant (decoys), clustering, resume determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from comparador_de_registros_spark.operators.assembly import assemble_conversations
from comparador_de_registros_spark.operators.cluster import connected_components
from comparador_de_registros_spark.operators.pipeline import (
    T_CLUSTERS,
    T_DOCS,
    DedupPipeline,
)
from comparador_de_registros_spark.oracle import brute_force_oracle, pair_recall
from comparador_de_registros_spark.plans.configs import DedupConfig
from comparador_de_registros_spark.sources.catalog import ParquetCatalog
from comparador_de_registros_spark.sources import transcripts as tg

SPEC = tg.TranscriptSpec(n_base=200, seed=42)


@pytest.fixture(scope="module")
def turns(spark):
    return tg.generate_transcripts(spark, SPEC).cache()


@pytest.fixture(scope="module")
def pipeline_result(spark, turns, tmp_path_factory):
    catalog = ParquetCatalog(str(tmp_path_factory.mktemp("dedup")))
    pipe = DedupPipeline(catalog=catalog, cfg=DedupConfig())
    clusters = pipe.run(spark, turns)
    return catalog, pipe, clusters


def test_pipeline_metrics_and_partition_lineage(spark, pipeline_result):
    """north_rule: per-partition lineage + metrics. Every stage write
    must leave (a) an Observation-metrics table and (b) a lineage table
    with one row per output FILE whose n_rows sum to the table's count
    — answered from parquet footers, never a rescan."""
    catalog, pipe, _ = pipeline_result
    import os

    base = catalog.base_dir
    metric_runs = os.listdir(os.path.join(base, "metrics"))
    assert any(s in m for m in metric_runs for s in ("assemble", "cluster"))
    lineage_runs = sorted(os.listdir(os.path.join(base, "lineage")))
    assert any("_sign_" in r or "sign" in r for r in lineage_runs)
    # spot-check the docs table: lineage rows == files, sum == count
    docs_lineage = [r for r in lineage_runs if "_assemble_docs" in r]
    assert docs_lineage
    lin = spark.read.parquet(
        os.path.join(base, "lineage", docs_lineage[0])
    ).collect()
    n_files = len(
        [
            f
            for f in os.listdir(os.path.join(base, "docs"))
            if f.endswith(".parquet")
        ]
    )
    assert len(lin) == n_files
    assert sum(r["n_rows"] for r in lin) == catalog.read(spark, "docs").count()
    assert all(r["n_bytes"] > 0 and r["table"] == "docs" for r in lin)

    # candidate-precision accounting identity: every candidate pair is
    # either a verified dup or an explicit is_dup=false rejection —
    # none may vanish silently from the verified table
    def metric(stage: str, name: str) -> float:
        rows = spark.read.parquet(
            os.path.join(base, "metrics", f"{pipe.run_id}_{stage}")
        ).collect()
        return {r["metric"]: r["value"] for r in rows}[name]

    n_cand = metric("candidates", "n_candidates")
    assert n_cand > 0
    assert n_cand == metric("verify", "n_verified_dups") + metric(
        "verify", "n_rejected"
    )
    assert catalog.read(spark, "verified").count() == n_cand


def test_generator_deterministic(spark):
    a = tg.generate_transcripts(spark, SPEC)
    b = tg.generate_transcripts(spark, SPEC)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_assembly_stable_order(spark):
    rows = [
        ("c1", 2, "user", "three", "", None),
        ("c1", 0, "user", "one", "", None),
        ("c1", 1, "assistant", "two", "", None),
        ("c2", 0, "user", "solo", "", None),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")
    docs = {r["conv_id"]: r["doc"] for r in assemble_conversations(df).collect()}
    assert docs["c1"] == "one\ntwo\nthree"
    assert docs["c2"] == "solo"


def test_assembly_max_turns_skew_guard(spark):
    """Mega-conversation cap: doc keeps the first max_turns turns in
    order, the row is flagged, and the TRUE turn count is preserved."""
    rows = [("big", i, "user", f"t{i}", "", None) for i in range(7)] + [
        ("small", 0, "user", "only", "", None)
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out = {
        r["conv_id"]: r
        for r in assemble_conversations(df, max_turns=3).collect()
    }
    assert out["big"]["doc"] == "t0\nt1\nt2"
    assert out["big"]["n_turns"] == 7 and out["big"]["truncated"]
    assert out["small"]["doc"] == "only" and not out["small"]["truncated"]


def test_assembly_max_turns_sparse_idx_flagged(spark):
    """The cap is POSITIONAL: sparse / non-0-based turn_idx inputs keep
    their first max_turns turns in order (the rank-based rescue path),
    so turns below the cap COUNT are never lost; only conversations
    truly longer than the cap are truncated (and flagged). Dense rows
    under the cap are untouched."""
    rows = [
        # 2 turns, one idx >= cap: BOTH kept (rescue), not truncated
        ("sparse", 0, "user", "t0", "", None),
        ("sparse", 9, "user", "t9", "", None),
        # 1-based dense, 3 turns, cap 3: all 3 kept (rescue)
        ("onebased", 1, "user", "a", "", None),
        ("onebased", 2, "user", "b", "", None),
        ("onebased", 3, "user", "c", "", None),
        # 1-based dense, 4 turns, cap 3: first 3 kept, truncated
        ("onebased_long", 1, "user", "p", "", None),
        ("onebased_long", 2, "user", "q", "", None),
        ("onebased_long", 3, "user", "r", "", None),
        ("onebased_long", 4, "user", "s", "", None),
        # dense 0-based under the cap: untouched
        ("dense", 0, "user", "x", "", None),
        ("dense", 1, "user", "y", "", None),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out = {
        r["conv_id"]: r
        for r in assemble_conversations(df, max_turns=3).collect()
    }
    assert out["sparse"]["doc"] == "t0\nt9" and not out["sparse"]["truncated"]
    assert out["sparse"]["n_turns"] == 2
    assert out["onebased"]["doc"] == "a\nb\nc"
    assert not out["onebased"]["truncated"]
    assert out["onebased_long"]["doc"] == "p\nq\nr"
    assert out["onebased_long"]["n_turns"] == 4
    assert out["onebased_long"]["truncated"]
    assert out["dense"]["doc"] == "x\ny" and not out["dense"]["truncated"]


def test_connected_components_long_ids(spark):
    """Id-type agnosticism (docs/TUNING.md: dictionary-encode conv_ids
    to int64 at 10^12 scale): CC must behave identically over longs."""
    edges = spark.createDataFrame(
        [(10, 2), (2, 30), (100, 200)], "a long, b long"
    )
    comp = {
        r["conv_id"]: r["cluster_id"]
        for r in connected_components(edges).collect()
    }
    assert comp == {2: 2, 10: 2, 30: 2, 100: 100, 200: 100}


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p")], ["a", "b"]
    )
    comp = {r["conv_id"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert "p" not in comp  # self-edges dropped; singletons added later


def test_connected_components_chain(spark):
    # long path graph exercises multiple star rounds
    n = 40
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(n)], ["a", "b"]
    )
    comp = connected_components(edges)
    assert comp.select("cluster_id").distinct().count() == 1
    assert comp.count() == n + 1


def test_connected_components_local_matches_distributed(spark):
    """The bounded-graph driver union-find fast path (r06) must be
    row-identical — values AND schema — to the distributed star rounds
    on a random graph with multi-node components, singleton pairs and
    duplicate/reversed edges."""
    import random

    rng = random.Random(7)
    pairs = [
        (f"c{rng.randrange(120):03d}", f"c{rng.randrange(120):03d}")
        for _ in range(300)
    ]
    edges = spark.createDataFrame(pairs, ["a", "b"])
    local = connected_components(edges)  # 300 edges < default cap
    dist = connected_components(edges, local_max_edges=0)
    assert local.schema == dist.schema
    assert sorted(map(tuple, local.collect())) == sorted(
        map(tuple, dist.collect())
    )
    # long-id graphs take the same fast path with the same agreement
    ledges = spark.createDataFrame(
        [(rng.randrange(60), rng.randrange(60)) for _ in range(150)],
        "a long, b long",
    )
    llocal = connected_components(ledges)
    ldist = connected_components(ledges, local_max_edges=0)
    assert llocal.schema == ldist.schema
    assert sorted(map(tuple, llocal.collect())) == sorted(
        map(tuple, ldist.collect())
    )


def test_connected_components_local_path_byte_gate(spark, monkeypatch):
    """With string ids the driver union-find runs only under BOTH caps:
    edges and raw id bytes (UTF-8 octets). Over the byte cap the
    distributed rounds label the same components."""
    from comparador_de_registros_spark.operators import cluster

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["a", "b"]
    )
    want = sorted(map(tuple, connected_components(edges).collect()))

    def local_forbidden(*_args):
        raise AssertionError("driver union-find taken over the byte cap")

    # 3 edges = 6 one-byte ids
    with monkeypatch.context() as m:
        m.setattr(cluster, "_CC_LOCAL_MAX_BYTES", 5)
        m.setattr(cluster, "_local_components", local_forbidden)
        got = sorted(map(tuple, connected_components(edges).collect()))
    assert got == want
    # at the cap exactly, the local path is taken
    calls = []
    real = cluster._local_components
    monkeypatch.setattr(
        cluster, "_local_components",
        lambda s, cur: calls.append(1) or real(s, cur),
    )
    monkeypatch.setattr(cluster, "_CC_LOCAL_MAX_BYTES", 6)
    connected_components(edges).collect()
    assert calls == [1]


def test_pipeline_recall_vs_oracle(spark, pipeline_result):
    catalog, pipe, clusters = pipeline_result
    docs = catalog.read(spark, T_DOCS)
    oracle = brute_force_oracle(docs, pipe.cfg)
    recall, caught, total = pair_recall(oracle, clusters)
    # planted dups: 5 per 10 base convs -> ~100 oracle pairs minimum
    assert total >= 80, f"oracle found too few dup pairs ({total})"
    assert recall >= 0.99, f"recall {recall:.4f} ({caught}/{total})"


def test_planted_dups_are_caught(spark, pipeline_result):
    catalog, pipe, clusters = pipeline_result
    truth = tg.truth_pairs(spark, SPEC)
    assign = {r["conv_id"]: r["cluster_id"] for r in clusters.collect()}
    missed = []
    for r in truth.collect():
        if assign.get(r["a"]) != assign.get(r["b"]):
            missed.append((r["a"], r["b"], r["kind"]))
    miss_rate = len(missed) / max(truth.count(), 1)
    assert miss_rate <= 0.01, f"missed planted dups: {missed[:10]}"


def test_decoys_not_merged(spark, pipeline_result):
    """Turn-reordered decoys must NOT co-cluster with their base conv —
    the per-turn stable-ordering invariant (BASELINE.json input_hint)."""
    catalog, pipe, clusters = pipeline_result
    docs = catalog.read(spark, T_DOCS)
    oracle = brute_force_oracle(docs, pipe.cfg)
    assign = {r["conv_id"]: r["cluster_id"] for r in clusters.collect()}
    n_decoys = 0
    merged = []
    for base in range(SPEC.n_base):
        if tg.truth_kind(base) == "decoy":
            n_decoys += 1
            a, b = tg.base_conv_id(base), tg.dup_conv_id(base)
            # decoy must differ from base as a document...
            if assign[a] == assign[b] and (min(a, b), max(a, b)) not in oracle.dup_pairs:
                merged.append((a, b))
    assert n_decoys > 0
    assert not merged, f"decoys wrongly merged: {merged[:5]}"


def test_exact_dup_docs_identical(spark, pipeline_result):
    catalog, _, _ = pipeline_result
    docs = {r["conv_id"]: r["doc"] for r in catalog.read(spark, T_DOCS).collect()}
    found = False
    for base in range(SPEC.n_base):
        if tg.truth_kind(base) == "exact":
            assert docs[tg.base_conv_id(base)] == docs[tg.dup_conv_id(base)]
            found = True
        if tg.truth_kind(base) == "decoy":
            assert docs[tg.base_conv_id(base)] != docs[tg.dup_conv_id(base)]
    assert found


def test_resume_skips_completed_stages(spark, turns, tmp_path_factory):
    catalog = ParquetCatalog(str(tmp_path_factory.mktemp("resume")))
    small = tg.TranscriptSpec(n_base=40, seed=7)
    t = tg.generate_transcripts(spark, small)
    pipe = DedupPipeline(catalog=catalog, cfg=DedupConfig())
    first = pipe.run(spark, t).collect()
    # drop the tail stage, resume: earlier stages must be reused
    catalog.drop(T_CLUSTERS)
    second = pipe.run(spark, t, resume=True).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_lsh_candidates_near_linear(spark, pipeline_result):
    """Regression guard for the candidate-explosion failure mode: on the
    fixture, total candidates must stay within a small multiple of the
    doc count (a degenerate corpus/geometry makes LSH quadratic —
    root-caused and fixed in round 1; see transcripts._build_vocab)."""
    catalog, pipe, _ = pipeline_result
    from comparador_de_registros_spark.operators.pipeline import T_CAND, T_DOCS

    n_docs = catalog.read(spark, T_DOCS).count()
    n_cand = catalog.read(spark, T_CAND).count()
    assert n_cand <= 5 * n_docs, (n_cand, n_docs)


def test_batch_kernel_matches_per_doc():
    """The vectorized cross-document kernel must be bit-for-bit equal to
    the per-doc primitives (char_shingles / oph_signature /
    winnow + stored_shingles) on every edge case: empty doc, doc shorter
    than k, shorter than the substring gram, shorter than min_doc_len,
    multi-byte UTF-8, and normal-length docs."""
    import numpy as np

    from comparador_de_registros_spark.functions import hashing as H
    from comparador_de_registros_spark.operators.signatures import (
        batch_signatures,
        stored_shingles,
    )

    rng = np.random.default_rng(123)
    words = ["consulta", "paciente", "ação", "exame", "b", "retorno", "José"]
    texts = [
        "",
        "abc",  # < k
        "a" * 20,  # >= k, < gram
        "palavra " * 6,  # >= gram, < min_doc_len
        " ".join(rng.choice(words, size=40)),  # long, repeated tokens
        " ".join(rng.choice(words, size=200)),  # long enough for anchors
        ("x" * 95),  # just under min_doc_len
        ("y" * 96),  # exactly min_doc_len
    ]
    cfg = DedupConfig()
    got = batch_signatures(texts, cfg)

    for i, text in enumerate(texts):
        sh = H.char_shingles(text, cfg.shingle.k, cfg.shingle.seed)
        assert got["n_shingles"][i] == len(sh), f"doc {i} n_shingles"
        np.testing.assert_array_equal(
            np.asarray(got["shingles"][i]),
            stored_shingles(sh),
            f"doc {i} shingles",
        )
        np.testing.assert_array_equal(
            np.asarray(got["minhash"][i]),
            H.oph_signature(sh, cfg.minhash.num_perm),
            f"doc {i} minhash",
        )
        if len(text.encode()) >= cfg.substring.min_doc_len:
            grams = H.rolling_kgram_hashes(
                text.encode("utf-8"), cfg.substring.gram, cfg.substring.seed
            )
            expect_anchors = H.winnow(grams, cfg.substring.window).astype(
                np.int64
            )
        else:
            expect_anchors = np.empty(0, dtype=np.int64)
        np.testing.assert_array_equal(
            np.asarray(got["anchors"][i]), expect_anchors, f"doc {i} anchors"
        )


def test_partial_overlap_dups_caught_via_lcs(spark, pipeline_result):
    """The planted partial-overlap class: a long contiguous block shared
    between two docs where NEITHER contains the other. Jaccard sits well
    under the threshold, full containment fails — only the suffix-array
    LCS verify can catch it (round-1 gap: verify checked containment
    only, and the fixture had no such class to expose it)."""
    catalog, pipe, clusters = pipeline_result
    docs = {r["conv_id"]: r["norm"] for r in catalog.read(spark, T_DOCS).collect()}
    assign = {r["conv_id"]: r["cluster_id"] for r in clusters.collect()}
    from comparador_de_registros_spark.operators.pipeline import T_VERIFIED

    pairs = []
    for base in range(SPEC.n_base):
        if tg.truth_kind(base) == "overlap":
            pairs.append((tg.base_conv_id(base), tg.dup_conv_id(base)))
    assert len(pairs) >= 10
    missed = []
    for a, b in pairs:
        na, nb = docs[a], docs[b]
        # the fixture shape itself: genuinely non-containment overlap
        assert na not in nb and nb not in na, (a, b)
        if assign[a] != assign[b]:
            missed.append((a, b))
    assert len(missed) / len(pairs) <= 0.01, f"missed overlap dups: {missed[:5]}"
    # and the verified table attributes them to the LCS rule
    verified = catalog.read(spark, T_VERIFIED)
    n_overlap = verified.where("overlap").count()
    assert n_overlap >= len(pairs) * 0.99, n_overlap


def test_lcs_len_matches_brute_force():
    import numpy as np

    from comparador_de_registros_spark.functions.suffix import lcs_len

    def brute(a: bytes, b: bytes) -> int:
        best = 0
        for i in range(len(a)):
            for j in range(len(b)):
                k = 0
                while i + k < len(a) and j + k < len(b) and a[i + k] == b[j + k]:
                    k += 1
                best = max(best, k)
        return best

    rng = np.random.default_rng(7)
    cases = [
        (b"", b""), (b"a", b""), (b"abc", b"abc"), (b"abc", b"xbcy"),
        (b"aaaa", b"aa"), (b"banana", b"ananas"), (b"abcdefgh", b"xyz"),
    ]
    for _ in range(150):
        n1, n2 = rng.integers(0, 32, 2)
        cases.append(
            (
                bytes(rng.integers(97, 100, n1).astype(np.uint8)),
                bytes(rng.integers(97, 100, n2).astype(np.uint8)),
            )
        )
    for a, b in cases:
        assert lcs_len(a, b) == brute(a, b), (a, b)


def test_shares_min_overlap_agrees_with_lcs():
    """The distributed overlap DECISION (rolling-hash k-gram
    intersection) must agree with the exact suffix-array LCS on random
    and adversarial strings."""
    import numpy as np

    from comparador_de_registros_spark.functions.suffix import (
        lcs_len,
        shares_min_overlap,
    )

    rng = np.random.default_rng(11)
    for _ in range(300):
        n1, n2, k = int(rng.integers(0, 60)), int(rng.integers(0, 60)), int(
            rng.integers(1, 12)
        )
        a = bytes(rng.integers(97, 100, n1).astype(np.uint8))
        b = bytes(rng.integers(97, 100, n2).astype(np.uint8))
        assert shares_min_overlap(a, b, k) == (lcs_len(a, b) >= k), (a, b, k)
