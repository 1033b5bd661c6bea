"""Tests for the training-data operators: text analysis, document
dedup, similarity search, incremental dedup."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from comparador_de_registros_spark.operators import doc_dedup, textstats
from comparador_de_registros_spark.operators.similarity import (
    cosine_topk,
    srp_candidate_pairs,
)
from comparador_de_registros_spark.operators.signatures import compute_signatures
from comparador_de_registros_spark.plans.configs import DedupConfig, LshConfig
from comparador_de_registros_spark.streaming.incremental import incremental_candidates

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog in the morning"),
    (2, "the quick brown fox jumps over the lazy dog in the evening"),
    (3, "o paciente de ana maria nao compareceu para a consulta com o medico"),
    (4, "el paciente no vino a la consulta como estaba previsto por la manana"),
    (5, "the quick brown fox jumps over the lazy dog in the morning"),  # exact dup of 1
    (6, "числа и буквы 12345 67890 !!!"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_text_profile(spark, docs):
    prof = {r["doc_id"]: r for r in textstats.text_profile(docs).collect()}
    assert prof[1]["lang_guess"] == "en"
    assert prof[3]["lang_guess"] == "pt"
    assert prof[4]["lang_guess"] == "es"
    assert prof[6]["lang_guess"] == "und"
    assert prof[1]["n_tokens"] == 12
    assert prof[1]["fingerprint"] == prof[5]["fingerprint"]
    assert prof[1]["fingerprint"] != prof[2]["fingerprint"]
    assert 0.0 <= prof[6]["quality"] <= prof[1]["quality"] <= 1.0
    assert prof[1]["n_subwords"] >= prof[1]["n_tokens"]


def test_exact_dup(spark, docs):
    clusters = doc_dedup.exact_dup_clusters(docs).collect()
    assert len(clusters) == 1
    assert clusters[0]["n_docs"] == 2 and clusters[0]["canonical_id"] == 1


def test_ngram_jaccard_pairs(spark, docs):
    pairs = {
        (r["a"], r["b"]): r["jaccard"]
        for r in doc_dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 5)] == 1.0
    assert (1, 2) in pairs and pairs[(1, 2)] < 1.0
    assert (3, 4) not in pairs


def test_signature_dup_pairs(spark, docs):
    cfg = DedupConfig(jaccard_threshold=0.7)
    verified = doc_dedup.signature_dup_pairs(docs, cfg)
    dups = {(r["a"], r["b"]) for r in verified.where("is_dup").collect()}
    assert ("1", "5") in dups
    assert ("3", "4") not in dups
    doc_dedup.release_signature_run(verified)


def test_release_signature_run_frees_all_caches(spark, docs):
    """signature_dup_pairs holds session-lifetime caches (fat signature
    table, slim candidate + scored-pair tables, ladder norms);
    release_signature_run must free ALL of them — leaked caches
    measurably slowed every subsequent query in the round-3 bench.
    Asserted on the specific handles, not on global CacheManager
    emptiness, so the test neither clears nor constrains caches owned
    by other fixtures in the shared session."""

    def _is_cached(df):
        lvl = df.storageLevel
        return lvl.useMemory or lvl.useDisk

    verified = doc_dedup.signature_dup_pairs(docs, DedupConfig())
    verified.where("is_dup").count()
    handles = [
        h
        for attr in ("_cdr_sigs", "_cdr_cand", "_cdr_scored", "_cdr_dnorm")
        if (h := getattr(verified, attr, None)) is not None
    ]
    assert len(handles) >= 3  # sigs + candidates + scored at minimum
    assert all(_is_cached(h) for h in handles)  # live while results drawn
    doc_dedup.release_signature_run(verified)
    assert not any(_is_cached(h) for h in handles)


def _embeddings(spark, n=40, dim=16, seed=3):
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n, dim))
    # make 1 and 2 near-identical
    base[1] = base[0] + rng.standard_normal(dim) * 0.01
    rows = [(i, [float(x) for x in base[i]], i % 3) for i in range(n)]
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_cosine_topk_exact(spark):
    emb = _embeddings(spark)
    queries = emb.where("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = cosine_topk(emb, queries, k=3).collect()
    assert len(top) == 3
    assert top[0]["vec_id"] == 1 and top[0]["rank"] == 1  # the planted neighbor
    assert top[0]["cosine"] > 0.99


def test_srp_candidates_find_planted_neighbor(spark):
    emb = _embeddings(spark)
    # dim inferred inside the UDF (no driver probe); scale-safe default
    # geometry (64 bits / 4 bands). At cosine ~0.99 a single 16-bit band
    # match has p ~ 0.5, so use more, narrower bands for the tiny
    # fixture's recall (the production default trades recall for bucket
    # granularity at corpus scale).
    pairs = srp_candidate_pairs(emb, n_bits=64, bands=8, min_cosine=0.95).collect()
    assert any((r["a"], r["b"]) == (0, 1) for r in pairs)


def _clustered_embeddings(spark, n_clusters=8, per_cluster=40, dim=16, seed=7):
    """Gaussian clusters on the unit sphere: realistic IVF geometry."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(n_clusters):
        pts = centers[c][None, :] + 0.15 * rng.standard_normal((per_cluster, dim))
        for p in pts:
            rows.append((vid, c, [float(x) for x in p]))
            vid += 1
    return spark.createDataFrame(rows, ["vec_id", "cluster", "embedding"])


def test_ivf_full_probe_matches_brute_force(spark):
    """nprobe == nlist probes every cell -> IVF must equal the exact
    brute-force ranking row-for-row (the driver gate's construction)."""
    from comparador_de_registros_spark.operators.similarity import ivf_topk

    emb = _clustered_embeddings(spark).select("vec_id", "embedding")
    queries = emb.where("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, queries, k=5)
    ivf = ivf_topk(emb, queries, k=5, nlist=6, nprobe=6)
    key = lambda r: (r["query_id"], r["rank"])
    e = sorted(exact.collect(), key=key)
    i = sorted(ivf.collect(), key=key)
    assert [(r["query_id"], r["vec_id"], r["rank"], r["cosine"]) for r in e] == [
        (r["query_id"], r["vec_id"], r["rank"], r["cosine"]) for r in i
    ]


def test_ivf_partial_probe_recall(spark):
    """nprobe=2 of nlist=8 scans ~25% of the corpus; on cluster-shaped
    data recall@5 must stay >= 0.9 (the IVF bet). Also deterministic:
    the sampled k-means training is fully seeded."""
    from comparador_de_registros_spark.operators.similarity import ivf_topk

    emb = _clustered_embeddings(spark).select("vec_id", "embedding")
    queries = emb.where("vec_id % 40 = 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    approx1 = ivf_topk(emb, queries, k=5, nlist=8, nprobe=2)
    got1 = {(r["query_id"], r["vec_id"]) for r in approx1.collect()}
    assert len(got1 & exact) / len(exact) >= 0.9
    approx2 = ivf_topk(emb, queries, k=5, nlist=8, nprobe=2)
    assert {(r["query_id"], r["vec_id"]) for r in approx2.collect()} == got1


def test_srp_bucket_cap_drops_oversized(spark):
    """Skew guard: identical vectors all land in one bucket; with a cap
    below the bucket size, the pairs must be dropped AND accounted."""
    from comparador_de_registros_spark.operators.similarity import (
        srp_candidate_pairs_with_dropped,
    )

    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(30)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs, dropped = srp_candidate_pairs_with_dropped(
        emb, min_cosine=0.5, max_bucket_size=10
    )
    assert pairs.count() == 0
    d = dropped.collect()
    assert d and all(r["sz"] == 30 for r in d)


def test_incremental_candidates(spark, docs):
    cfg = DedupConfig()
    convs = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"), F.col("text").alias("doc")
    )
    sigs = compute_signatures(convs, cfg).cache()
    corpus = sigs.where(F.col("conv_id") != "5")
    new = sigs.where(F.col("conv_id") == "5")
    cand = incremental_candidates(new, corpus, cfg.lsh).collect()
    assert any((r["a"], r["b"]) == ("1", "5") for r in cand)
    # delta join never emits corpus-vs-corpus pairs
    assert all("5" in (r["a"], r["b"]) for r in cand)
    # one row per pair in verify_pairs' (a, b, sources) contract
    assert all(r["sources"] == ["lsh_incr"] for r in cand)
    assert len({(r["a"], r["b"]) for r in cand}) == len(cand)


def test_ivf_persisted_index_no_retrain_and_prunes(spark, tmp_path, monkeypatch):
    """build_ivf_index persists centroids + the cell-partitioned corpus;
    ivf_topk_indexed (a) never retrains (train_ivf_centroids poisoned
    after build), (b) matches the in-memory ivf_topk at the same
    centroids, and (c) pushes the probe-cell set into the corpus scan as
    a PARTITION filter so only probed cells' files are read."""
    from comparador_de_registros_spark.operators import similarity as sim

    emb = _clustered_embeddings(spark).select("vec_id", "embedding")
    queries = emb.where("vec_id % 40 = 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "ivf_index")
    sim.build_ivf_index(emb, path, nlist=8)

    def _poisoned(*a, **k):  # any retrain after build is a failure
        raise AssertionError("ivf_topk_indexed must not retrain centroids")

    monkeypatch.setattr(sim, "train_ivf_centroids", _poisoned)

    indexed = sim.ivf_topk_indexed(spark, path, queries, k=5, nprobe=2)
    got = {(r["query_id"], r["vec_id"], r["rank"]) for r in indexed.collect()}
    cent = sim.load_ivf_centroids(spark, path)
    inmem = sim.ivf_topk(
        emb, queries, k=5, nlist=8, nprobe=2, centroids=cent
    )
    want = {(r["query_id"], r["vec_id"], r["rank"]) for r in inmem.collect()}
    assert got == want

    plan = indexed._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    scan = [
        b for b in plan.split("\n\n")
        if "Scan parquet" in b and "corpus" in b
    ]
    assert scan and "PartitionFilters" in scan[0]
    assert "cell IN" in scan[0] or "cell#" in scan[0].split("PartitionFilters")[1].split("]")[0]
