"""Document-table dedup operators (training-data pipeline surface).

The transcript pipeline (operators/pipeline.py) works on assembled
conversations; these wrappers expose the same dedup machinery over any
generic ``(doc_id, text)`` documents table — exact hash dedup, token
n-gram Jaccard, MinHash-LSH — plus embedding-cosine near-dup
via operators/similarity.py. Exact and n-gram variants are fully
native (and have exact SQL oracles); the signature variants reuse the
mapInPandas signature stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from comparador_de_registros_spark.operators import lsh as lsh_ops
from comparador_de_registros_spark.operators.assembly import normalize_doc_col
from comparador_de_registros_spark.operators.signatures import (
    compute_signatures,
    scan_is_narrow,
)
from comparador_de_registros_spark.operators.verify import (
    release_scored,
    verify_pairs,
)
from comparador_de_registros_spark.plans.configs import DedupConfig


def tokenset_key_col(text: F.Column) -> F.Column:
    """Normalization key for exact dedup under token-set identity:
    md5 of the sorted distinct lowercase tokens. Strictly weaker than
    whitespace-collapse normalization — catches token reorders and
    repetitions, which real corpora contain even when byte-exact dups
    are absent."""
    toks = F.filter(
        F.split(F.lower(F.trim(text)), r"\s+"), lambda t: t != F.lit("")
    )
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))


def exact_dup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    key: F.Column | None = None,
) -> DataFrame:
    """Exact dedup: group by a normalization key (default: md5 of
    whitespace-collapsed lowercase text; pass ``key`` for a weaker
    normalizer, e.g. :func:`tokenset_key_col`). -> one row per duplicate
    GROUP (size >= 2): (doc_hash, n_docs, canonical_id)."""
    if key is None:
        key = F.md5(normalize_doc_col(F.col(text_col)))
    hashed = docs.select(
        F.col(id_col),
        key.alias("doc_hash"),
    )
    return (
        hashed.groupBy("doc_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
        .where(F.col("n_docs") >= 2)
    )


def distinct_tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token) with distinct lowercased whitespace tokens."""
    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.array_distinct(
                    F.filter(
                        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                        lambda t: t != F.lit(""),
                    )
                )
            ).alias("token"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-set Jaccard dup pairs via inverted-index join — the fully
    native, SQL-checkable variant of near-dup detection:

      tokens -> inverted index -> co-occurrence counts (one shuffle on
      token, one on the pair) -> |A ∩ B| / (|A| + |B| - |A ∩ B|).

    Scale note: the token join explodes on ubiquitous tokens; in the
    100 TB path use minhash_dup_pairs (this operator is the exact
    verifier / small-scale oracle). -> (a, b, jaccard)"""
    toks = distinct_tokens(docs, id_col, text_col)
    sizes = toks.groupBy("id").agg(F.count("*").alias("sz"))
    l = toks.withColumnRenamed("id", "a")
    r = toks.withColumnRenamed("id", "b")
    inter = (
        l.join(r, "token")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("i"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "a").withColumnRenamed("sz", "sa"), "a")
        .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("sz", "sb"), "b")
        .select(
            "a",
            "b",
            F.round(
                F.col("i") / (F.col("sa") + F.col("sb") - F.col("i")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def signature_dup_pairs(
    docs: DataFrame,
    cfg: DedupConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash-LSH (+substring) near-dup pairs over a generic documents
    table: sign -> candidates -> verify. -> (a, b, jaccard, contained,
    is_dup, sources) with string ids.

    EAGER: calling this runs the full sign + candidate-generation
    computation immediately (the candidate cache is materialized with a
    count so verify's plan choice and the concurrent consumers of the
    cache are race-free) and leaves live caches attached to the result.
    Callers must call :func:`release_signature_run` once done; callers
    that only want the plan should not call this function."""
    cfg = cfg or DedupConfig()
    # the signature table is referenced by every candidate generator AND
    # both verify-side shingle joins; without a cache the Arrow signing
    # kernel — the most expensive map here — would run once per
    # reference. Spread the input first (a single parquet file scans
    # into 1-3 splits, serializing the kernel) over one task per core
    # (more Python tasks only add the per-task toll, docs/TUNING.md
    # "Task granularity"), then persist. The narrowness probe reads
    # file metadata, not .rdd (scan_is_narrow); normalization is
    # applied AFTER the spread so it runs on every core instead of
    # inside the narrow scan's map task (profiled: the
    # pre-spread normalize was a ~1.8 s serial task on the bench's
    # single-file corpus — per-row values are partition-independent, so
    # the reorder is output-identical). Everything downstream consumes
    # only (conv_id, norm); the raw doc column is dropped either side
    # of the exchange.
    spark = docs.sparkSession
    base = docs.select(
        F.col(id_col).cast("string").alias("conv_id"),
        F.col(text_col).alias("doc"),
    )
    cores = spark.sparkContext.defaultParallelism
    if scan_is_narrow(spark, base, cores):
        base = base.repartition(cores, "conv_id")
    convs = base.select(
        "conv_id", normalize_doc_col(F.col("doc")).alias("norm")
    )
    sigs = compute_signatures(convs, cfg).persist()
    cand, _, _ = lsh_ops.unified_candidates(sigs, cfg.lsh)
    # persist the (slim) candidate pairs: verify_pairs consumes the
    # candidates plan more than once — the participant id set it
    # broadcasts for the shared sig exchange, plus the pair joins. In
    # the checkpointing pipeline `candidates` is a parquet table and the
    # re-reads are cheap scans, but here it is a LIVE plan containing
    # the full LSH explode->groupBy; without a cache that shuffle runs
    # once per reference (measured at sf0.1: ~+8 s on
    # minhash_dup_pairs, the round-4 -> round-5 regression). The cache
    # is materialized EAGERLY: the participant-broadcast job and the
    # pair joins are submitted concurrently, so a lazy persist races —
    # both consumers can start before either populates it.
    cand = cand.persist()
    n_cand = cand.count()
    out = verify_pairs(cand, sigs, convs, cfg, n_candidates=n_cand)
    out._cdr_sigs = sigs
    out._cdr_cand = cand
    return out


def release_signature_run(verified: DataFrame) -> None:
    """Unpersist EVERY cache a :func:`signature_dup_pairs` result holds
    — the fat signature table (``_cdr_sigs``, shingle arrays), the slim
    candidate-pair table (``_cdr_cand``), and verify's scored-pair /
    ladder-norm caches (via :func:`release_scored`) — once the caller
    has materialized everything it needs. Without this, repeated query
    invocations in one session accumulate MEMORY_AND_DISK cached plans
    until LRU eviction (measured: the leaked shingle cache from one
    sf0.1 run slows every subsequent headline query 15-45%)."""
    release_scored(verified)
    for attr in ("_cdr_sigs", "_cdr_cand"):
        handle = getattr(verified, attr, None)
        if handle is not None:
            handle.unpersist()
