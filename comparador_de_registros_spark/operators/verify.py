"""Verification: exact Jaccard on shingle sets + substring overlap.

Candidate pairs (one row per pair, the generators that found it in
``sources``) are verified natively:
``size(array_intersect)/size(array_union)`` over the stored shingle
arrays (no Python). Pairs that came from the substring
generator and fail the Jaccard threshold get the substring ladder:

1. full containment (one normalized doc embedded in the other) —
   native ``instr``, zero Python;
2. otherwise, the longest-common-substring rule: a pair is a substring
   duplicate when LCS >= ``cfg.substring.min_overlap`` bytes, covering
   partial overlaps where NEITHER doc contains the other. The
   distributed path decides the predicate via rolling-hash k-gram
   intersection (functions/suffix.py:shares_min_overlap, Arrow-batched,
   ~100 us/pair); the exact suffix-array LCS (same module) is the
   oracle-side reference, so the two methods cross-check on every
   fixture run. The winnowing anchor generator guarantees any pair
   sharing ``window + gram - 1`` bytes reaches this stage, so the
   rule's candidate recall is exact.

Scale notes: the two shingle-set joins are the big shuffles of the
pipeline; they join the (much smaller) pair table against the signature
table on conv_id — AQE handles residual skew; the pair table is
pre-distinct so each conversation's shingle set is shipped once per
pair side. The LCS UDF runs only on the containment-failing residue of
substring-sourced candidates — a vanishing fraction of pairs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from comparador_de_registros_spark.plans.configs import DedupConfig


_OVERLAP_UDFS: dict[int, object] = {}

# Verify plan split points (measured on the round-4/5 benches; the
# sweep behind them is in docs/TUNING.md "Verify plan selection").
#
# Small plan: when the caller KNOWS the candidate pair count (e.g.
# signature_dup_pairs materializes its candidate cache) and it is at
# most this, verify joins broadcast the pair side directly into the
# cached signature table — zero sig-table exchanges, the optimal
# small-corpus plan. Above it (or when the count is unknown) verify
# uses the shared participant-filtered sig exchange, the optimal
# large-corpus plan (round-4 verdict: verify shuffle bytes). Only the
# slim (a, b, sources) pair table is ever broadcast (~50 B/row -> ~10
# MB at the threshold); the fat shingle arrays stay partitioned.
_SMALL_CANDIDATES_MAX = 200_000

# Medium plan: when the pair count is known but above
# _SMALL_CANDIDATES_MAX, verify counts the distinct participants (one
# job over the caller's cached pair table); if at most this many, the
# participant-filtered sig table is BROADCAST into both shingle joins
# instead of exchanged — the pair side then never shuffles at all.
# Byte budget: 200k participants * ~1.1 KB avg sig row ≈ 220 MB
# broadcast, inside the 8 GB/512M-row broadcast cap and comfortable for
# an 8 GB driver; above it the large shared-exchange plan (the 100 TB
# shape) applies. Measured at 50k docs / 2.76M candidates (sf1.0
# bench): scored stage 15.3s (shared exchange) -> 12.4s (broadcast
# sigs), and no sort of the fat pair rows.
_BROADCAST_SIGS_MAX = 200_000

# Byte companion to the count gate above: estimated broadcast size
# (participants * (avg_shingles * 4 B + row overhead) * 2) must stay
# under this, pricing FAT sig rows (assembled conversations carry 10x a
# short doc's shingles) out of the broadcast plan that a pure count cap
# would admit.
_BROADCAST_SIGS_MAX_BYTES = 256 * 1024 * 1024

# Small plan at or under this many candidates: the LCS ladder runs as
# ONE Python task instead of one per inherited partition, each of which
# pays a fixed worker toll of ~0.2 CPU-s (docs/TUNING.md "Task
# granularity"). Bound = the largest measured count where one task was
# not slower, with every candidate in the ladder (the worst case), 4
# cores, median verify wall vs the inherited spread: 8 KB docs 250
# pairs 1.56 vs 1.63 s, 500 1.59 vs 1.48 s, 2,000 2.77 vs 1.97 s; 1 KB
# docs 500 1.15 vs 1.21 s, 3,000 1.14 vs 0.98 s.
_LADDER_ONE_TASK_MAX = 250


def _overlap_udf(a, b, min_overlap: int):
    """Arrow-batched column deciding LCS(a, b) >= min_overlap via
    rolling-hash k-gram intersection (functions/suffix.py:
    shares_min_overlap — the exact suffix-array LCS is the oracle-side
    reference). Lazy per-threshold cache: pandas_udf creation needs an
    active SparkContext."""
    udf = _OVERLAP_UDFS.get(min_overlap)
    if udf is None:

        @pandas_udf(T.BooleanType())
        def _udf(na: pd.Series, nb: pd.Series) -> pd.Series:
            from comparador_de_registros_spark.functions.suffix import (
                shares_min_overlap,
            )

            return pd.Series(
                [
                    shares_min_overlap(
                        (x or "").encode("utf-8"),
                        (y or "").encode("utf-8"),
                        min_overlap,
                    )
                    for x, y in zip(na, nb)
                ],
                dtype="bool",
            )

        _OVERLAP_UDFS[min_overlap] = _udf
        udf = _udf
    return udf(a, b)


def verify_pairs(
    candidates: DataFrame,
    signatures: DataFrame,
    docs_norm: DataFrame,
    cfg: DedupConfig,
    n_candidates: int | None = None,
) -> DataFrame:
    """-> (a, b, jaccard, contained, overlap, is_dup, sources)

    ``docs_norm`` must carry (conv_id, norm) — the same normalized text
    the signatures were computed from. ``contained`` = full containment;
    ``overlap`` = partial overlap with LCS >= substring.min_overlap.

    ``jaccard`` is the exact shingle-set Jaccard for every pair that
    could possibly pass the threshold (and for every substring-sourced
    pair, whose exact value can reach the output via the ladder); it is
    NULL for pairs the size bound min(|A|,|B|)/max(|A|,|B|) < threshold
    proves rejected — their is_dup is exactly False and the expensive
    per-pair intersection is skipped.

    ``n_candidates``: pass the known candidate-pair count (callers that
    materialize the candidate table anyway) to let verify pick the
    small-corpus plan below; ``None`` means unknown -> large-corpus
    plan.
    """
    spark = candidates.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    small = (
        n_candidates is not None
        and n_candidates <= _SMALL_CANDIDATES_MAX
    )
    broadcast_sigs = False
    ids_cached = None
    if not small and n_candidates is not None:
        # Medium plan probe: when the pair count is known (the caller
        # materialized the candidate cache) but too big to broadcast the
        # pair side, the PARTICIPANT side may still be small enough to
        # broadcast instead — one cheap distinct-count job over the
        # cached pair table decides. Broadcasting the participant-
        # filtered sig table removes every exchange over the (much
        # larger) pair side: the fat shingle arrays never ride a
        # pair-keyed shuffle and the 2 joins run as BHJ in the pairs'
        # existing partitioning (guide §3.1; measured at 50k docs /
        # 2.76M pairs: scored compute 15.3s shared-exchange -> 12.4s).
        # The id set is persisted so the probe count and the semi-join
        # below share one computation; released via release_scored.
        ids_cached = (
            candidates.select(F.explode(F.array("a", "b")).alias("conv_id"))
            .distinct()
            .persist()
        )
        n_participants = ids_cached.count()
        broadcast_sigs = n_participants <= _BROADCAST_SIGS_MAX
        if broadcast_sigs:
            # Byte-aware second gate: the count cap alone is blind to how
            # FAT a sig row is (a 300-char doc carries ~285 shingles
            # ≈ 1.1 KB; an assembled conversation can carry 10x that).
            # One columnar avg over the shingle sizes prices the
            # broadcast; the 2x factor covers JVM array/row overhead on
            # top of the raw int32 payload.
            avg_sh = (
                signatures.select(
                    F.avg(F.size("shingles")).alias("s")
                ).first()["s"]
                or 0.0
            )
            est_bytes = n_participants * (avg_sh * 4 + 64) * 2
            broadcast_sigs = est_bytes <= _BROADCAST_SIGS_MAX_BYTES
        if not broadcast_sigs:
            ids_cached.unpersist()
            ids_cached = None
    if small:
        # Small-corpus plan: the slim pair side is broadcast into join 1
        # (BHJ, zero exchanges); join 2 is left to Catalyst — the plan
        # it picked naturally before the shared-exchange restructure,
        # whose extra fixed jobs (participant distinct + semi-join +
        # explicit repartition) cost ~+3 s at query scale while saving
        # bytes only when the sig table is large enough for its
        # exchange to dominate.
        sig = signatures.select("conv_id", "shingles")
        withsets = (
            F.broadcast(candidates)
            .join(sig.withColumnRenamed("conv_id", "a"), "a")
            .withColumnRenamed("shingles", "sh_a")
            .join(sig.withColumnRenamed("conv_id", "b"), "b")
            .withColumnRenamed("shingles", "sh_b")
        )
    elif broadcast_sigs:
        # Medium plan: broadcast the participant-filtered sig side into
        # BOTH joins. The pair side is never exchanged at all; the only
        # data movement is the one broadcast (n_participants * avg sig
        # bytes, capped by _BROADCAST_SIGS_MAX and
        # _BROADCAST_SIGS_MAX_BYTES).
        sigb = F.broadcast(
            signatures.select("conv_id", "shingles")
            .join(F.broadcast(ids_cached), "conv_id", "left_semi")
        )
        withsets = (
            candidates.join(
                sigb.select(F.col("conv_id").alias("a"), "shingles"), "a"
            )
            .withColumnRenamed("shingles", "sh_a")
            .join(sigb.select(F.col("conv_id").alias("b"), "shingles"), "b")
            .withColumnRenamed("shingles", "sh_b")
        )
    else:
        # One shared, participant-filtered sig exchange for BOTH join
        # sides (round-4 verdict: verify was the pipeline's dominant
        # shuffle-byte line — the full sig table was exchanged per join
        # side). Structure:
        # 1. left_semi against the candidate participants drops every
        #    conversation that appears in no pair (exactness preserved —
        #    the downstream joins are inner on those same ids). The id
        #    set is broadcast statically: an AQE-converted broadcast
        #    arrives AFTER the sig exchange was submitted, leaving the
        #    filter post-shuffle where it saves nothing (measured at
        #    600k base; the static filter cut verify bytes 27% at 150k).
        #    The driver must be able to broadcast the distinct
        #    participant ids (~100M int64 ids at most);
        # 2. one explicit repartition by conv_id; both join sides
        #    project conv_id under an alias, so alias-aware output
        #    partitioning satisfies BOTH joins' distribution
        #    requirements from this ONE exchange (ReusedExchange —
        #    asserted in tests/test_physical_plans.py). The fat shingle
        #    arrays now cross at most (1 + participation-fraction)
        #    sig-table exchanges total instead of 2 full ones; the
        #    unavoidable per-pair cost is the sh_a array riding join 2's
        #    pair-keyed exchange once.
        ids = F.broadcast(
            candidates.select(
                F.explode(F.array("a", "b")).alias("conv_id")
            ).distinct()
        )
        sigp = (
            signatures.select("conv_id", "shingles")
            .join(ids, "conv_id", "left_semi")
            .repartition(n_part, "conv_id")
        )
        withsets = (
            candidates.join(
                sigp.select(F.col("conv_id").alias("a"), "shingles"), "a"
            )
            .withColumnRenamed("shingles", "sh_a")
            .join(sigp.select(F.col("conv_id").alias("b"), "shingles"), "b")
            .withColumnRenamed("shingles", "sh_b")
        )
    # |A ∪ B| = |A| + |B| - |A ∩ B| EXACTLY, because the stored shingle
    # arrays are distinct per doc (signatures.py: np.unique /
    # _dedupe_sorted). Computing the union via arithmetic instead of
    # array_union removes one per-pair hash-set build (and the
    # when-guard's second evaluation of it): measured 50.5s -> 15.3s on
    # the scored projection at 50k docs / 2.76M pairs. The division
    # consumes the same integer values as before, so the double result
    # is bit-identical. u2 == 0 iff both arrays are empty (u2 >=
    # max(|A|,|B|) otherwise), exactly when array_union was empty.
    na, nb = F.size("sh_a"), F.size("sh_b")
    # Size-bound prune (exact): J = inter/u2 <= min(|A|,|B|)/max(|A|,|B|)
    # because inter <= min and u2 >= max. Both sides are computed with
    # the SAME double division as the jaccard itself, and fl() is
    # monotone, so fl(inter/u2) <= fl(min/max) — if the bound is below
    # the threshold the pair CANNOT pass, and the per-pair
    # array_intersect hash-set build (the single most expensive
    # expression of the whole engine — ~37% of candidate pairs are
    # prunable at the sf1.0 bench) is skipped. Pruned rows carry
    # jaccard = NULL ("provably below threshold, not computed");
    # substring-sourced pairs are never pruned, so every row entering
    # the containment/LCS ladder — and therefore every row that can
    # reach the is_dup output — keeps its exact jaccard value.
    bound_fail = (
        F.least(na, nb) / F.greatest(na, nb)
        < F.lit(float(cfg.jaccard_threshold))
    ) & ~F.array_contains("sources", "substring")
    # The intersect size is materialized ONCE in an inner projection.
    # Referencing size(array_intersect(...)) three times in the jaccard
    # CaseWhen (u2 guard, numerator, denominator) made codegen evaluate
    # the per-pair hash-set build up to three times — whole-stage CSE
    # does not hoist expressions that sit under conditional branches.
    # Two selects survive optimization because CollapseProject refuses
    # to inline a non-cheap expression referenced more than once
    # (measured on the 102k-pair bench corpus: scored projection
    # 0.72 s -> 0.41 s warm, byte-identical output). Pruned rows carry
    # the sentinel -1, never read (the outer when short-circuits them
    # to NULL first), so the size-bound prune still skips the
    # intersect on provably-failing pairs.
    inter_c = F.when(bound_fail, F.lit(-1)).otherwise(
        F.size(F.array_intersect("sh_a", "sh_b"))
    )
    pre = withsets.select(
        "a",
        "b",
        "sources",
        na.alias("__na"),
        nb.alias("__nb"),
        bound_fail.alias("__bf"),
        inter_c.alias("__inter"),
    )
    u2 = F.col("__na") + F.col("__nb") - F.col("__inter")
    jacc = F.when(F.col("__bf"), F.lit(None).cast("double")).otherwise(
        F.when(u2 > 0, F.col("__inter") / u2).otherwise(F.lit(0.0))
    )
    # persist the slim scored pair table (a, b, sources, jaccard —
    # tens of bytes/pair): the pass-through branch and the substring
    # ladder branch below both project from it, their filters push down
    # differently, and WITHOUT the cache Spark plans the two fat
    # shingle-set shuffle joins twice (verified: zero ReusedExchange in
    # the physical plan). Recomputing those joins is ~2x the biggest
    # shuffle of the pipeline; caching the pair table is cheap at any
    # scale. The handle is attached to the result for callers that want
    # deterministic release (release_scored); otherwise LRU eviction
    # applies.
    scored = pre.select(
        "a", "b", "sources", jacc.alias("jaccard")
    ).persist()

    # NULL jaccard = size-bound-pruned = proven fail (never substring-
    # sourced, so never ladder-eligible)
    jacc_fail = F.col("jaccard").isNull() | (
        F.col("jaccard") < cfg.jaccard_threshold
    )
    needs_substring = scored.where(
        jacc_fail & F.array_contains("sources", "substring")
    )
    # every candidate row survives into the verified table: passes keep
    # their score, non-substring failures are kept as is_dup=false
    # rejections (NOT silently dropped — candidate-precision accounting
    # requires n_candidates == n_dups + n_rejected), and substring-
    # sourced failures get the containment/LCS ladder below
    no_ladder = (
        scored.where(
            ~jacc_fail
            | (jacc_fail & ~F.array_contains("sources", "substring"))
        )
        .withColumn("contained", F.lit(False))
        .withColumn("overlap", F.lit(False))
    )

    # same shared-exchange shape as the shingle joins: the ladder
    # residue is a small pair set, so the participant semi-join
    # prunes the docs table hard before its single norm exchange
    # the residue id set is BROADCAST explicitly: Spark's size
    # estimate for a distinct over the cached scored table is
    # unknown, so without the hint AQE plans an SMJ semi and the
    # full docs norm column crosses an exchange before the runtime
    # size is known (measured: 139 MB at 150k base for a ~1 MB id
    # set). The residue is structurally small — substring-sourced
    # candidates that FAILED Jaccard, bounded by the anchor
    # generator's bucket caps — and if it ever outgrew Spark's
    # broadcast limit the job fails loudly rather than silently.
    if small or broadcast_sigs:
        # Small/medium plans: seed the semi-join with the CANDIDATE
        # participants instead of the ladder residue's. The id set
        # is a superset (residue pairs are candidates), and the
        # with_norms joins below are inner on the residue's a/b, so
        # extra d rows are never matched — output identical. What it
        # buys: the residue ids depend on the scored branch, so the
        # ids -> d broadcast builds were NESTED under scored's and
        # the three broadcasts serialized (profiled: three ~1.1 s
        # jobs back-to-back at bench scale); candidate ids depend
        # only on the (cached/checkpointed) pair table, letting the
        # norm broadcast build in parallel with scored. Byte bound
        # unchanged in the worst case (the residue can BE the whole
        # candidate set); on the medium plan participant norms are
        # ~1/4 of the shingle broadcast the byte gate already
        # priced. The large plan keeps residue-derived ids — at
        # scale the superset would broadcast norms for millions of
        # participants whose pairs never reach the ladder.
        if ids_cached is not None:
            ids_sub = F.broadcast(ids_cached)
        else:
            ids_sub = F.broadcast(
                candidates.select(
                    F.explode(F.array("a", "b")).alias("conv_id")
                ).distinct()
            )
    else:
        ids_sub = F.broadcast(
            needs_substring.select(
                F.explode(F.array("a", "b")).alias("conv_id")
            ).distinct()
        )
    # persisted: the norm_a and norm_b joins both consume d, and
    # physical planning duplicates the subtree (the two filtered
    # exchanges don't canonicalize equal under the broadcast semi),
    # which re-scans docs and writes the exchange twice. The cache
    # is small by the same residue-size argument; released with the
    # scored cache via release_scored.
    d = docs_norm.select("conv_id", "norm").join(
        ids_sub, "conv_id", "left_semi"
    )
    if not (small or broadcast_sigs):
        # large plan only: spread the residue norms for the
        # exchange-based joins below; on the small/medium plans d is
        # broadcast and the extra exchange is pure fixed cost
        d = d.repartition(n_part, "conv_id")
    d = d.persist()
    # On the small/medium plans the corpus itself fits a broadcast,
    # so the residue norms certainly do: broadcasting d turns the
    # two norm joins into BHJs with zero exchanges/sorts over the
    # residue (several fixed stages saved per run at query scale).
    # The large plan keeps the exchange shape — there the residue
    # norm BYTES (full doc texts) may exceed broadcast limits even
    # when the pair count is modest.
    d_side = F.broadcast(d) if (small or broadcast_sigs) else d
    with_norms = (
        needs_substring.join(
            d_side.select(F.col("conv_id").alias("a"), "norm"), "a"
        )
        .withColumnRenamed("norm", "norm_a")
        .join(d_side.select(F.col("conv_id").alias("b"), "norm"), "b")
        .withColumnRenamed("norm", "norm_b")
    )
    if not (small or broadcast_sigs):
        # EXPLICIT spread before the LCS UDF — LARGE plan: the
        # residue is small relative to the corpus, so AQE coalesces
        # the join output to 1-2 partitions and the per-pair
        # rolling-hash kernel runs as a SERIAL tail — a fixed cost
        # that hits every cluster size equally and caps scaling
        # efficiency (measured: ~20s of the 1->4 executor fixed
        # cost at 10M turns). An explicit count is
        # AQE-coalescing-exempt. On the small/medium (broadcast)
        # plans the UDF runs over the partitions the joins inherit,
        # except for the smallest candidate sets: one task there.
        with_norms = with_norms.repartition(n_part, "a", "b")
    elif small and n_candidates <= _LADDER_ONE_TASK_MAX:
        with_norms = with_norms.repartition(1, "a", "b")
    with_norms = (
        with_norms
        .withColumn(
            "contained",
            F.when(
                F.length("norm_a") <= F.length("norm_b"),
                F.instr(F.col("norm_b"), F.col("norm_a")) > 0,
            ).otherwise(F.instr(F.col("norm_a"), F.col("norm_b")) > 0),
        )
        # overlap decision only where containment already failed;
        # byte-length pre-filter: LCS >= min_overlap needs both docs
        # that long (native, prunes the UDF input further)
        .withColumn(
            "overlap",
            F.when(F.col("contained"), F.lit(False)).otherwise(
                (F.length("norm_a") >= cfg.substring.min_overlap)
                & (F.length("norm_b") >= cfg.substring.min_overlap)
                & _overlap_udf(
                    F.col("norm_a"),
                    F.col("norm_b"),
                    cfg.substring.min_overlap,
                )
            ),
        )
        .select("a", "b", "sources", "jaccard", "contained", "overlap")
        # persisted: the ladder branch (joins + the per-pair LCS
        # kernel) is consumed by every downstream action on the
        # verified union — without a cache each count/write re-runs
        # it. The table is residue-sized (same smallness argument
        # as d); released via release_scored.
        .persist()
    )
    verified = no_ladder.unionByName(with_norms)

    out = verified.withColumn(
        "is_dup",
        # NULL jaccard = size-bound-pruned = proven below threshold
        F.coalesce(
            F.col("jaccard") >= cfg.jaccard_threshold, F.lit(False)
        )
        | F.col("contained")
        | F.col("overlap"),
    )
    out._cdr_scored = scored
    out._cdr_dnorm = d
    out._cdr_ladder = with_norms
    out._cdr_ids = ids_cached
    return out


def release_scored(verified: DataFrame) -> None:
    """Unpersist the intermediate caches attached by
    :func:`verify_pairs` (the scored pair table, the filtered ladder
    norms, and the medium-plan participant id set), once the caller has
    materialized its output."""
    for attr in ("_cdr_scored", "_cdr_dnorm", "_cdr_ladder", "_cdr_ids"):
        handle = getattr(verified, attr, None)
        if handle is not None:
            handle.unpersist()
