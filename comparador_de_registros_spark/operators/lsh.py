"""Candidate-pair generation: MinHash-LSH bands and winnowed substring
anchors.

Both generators share the same physical shape — explode a per-doc key
set, group on the key, enumerate ``a < b`` inside each bucket — so
:func:`unified_candidates` runs them through one shuffle. Everything
here is native Column expressions (band hashing via ``F.hash`` over
signature slices, anchor keys via ``F.hash``): zero Python in the
candidate path.

Skew handling (north_rule: "partitioning / shuffle / skew handled
explicitly"):
* exact-duplicate collapse happens UPSTREAM (pipeline.py) so identical
  boilerplate can't form mega-buckets;
* any residual bucket larger than ``max_bucket_size`` is excluded from
  pair enumeration and surfaced in the metrics table (dropped-bucket
  accounting) rather than silently exploding O(n^2);
* AQE skew-join splitting stays on for the join itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from comparador_de_registros_spark.plans.configs import LshConfig


def lsh_band_keys(sig_col: str, cfg: LshConfig) -> Column:
    """array of per-band hashes: band i = hash(slice(sig, i*r, r), i)."""
    return F.array(
        *[
            F.hash(
                F.slice(F.col(sig_col), i * cfg.rows + 1, cfg.rows), F.lit(i)
            )
            for i in range(cfg.bands)
        ]
    )


def unified_candidates(
    signatures: DataFrame,
    lsh_cfg: LshConfig,
    simhash_cfg: None = None,
    use_substring: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Both generators through ONE shuffle.

    One explode -> groupBy per generator would shuffle the signature
    table once each (~2x the stage-scheduling overhead), and at scale
    the bucket grouping dominates the candidates stage; so the key
    streams are unioned under a (gen, key1, key2) composite key and
    grouped ONCE. ``simhash_cfg`` is the slot of the removed SimHash
    generator (plans/configs.py: ``DedupConfig.use_simhash``) and must
    be None; ``use_substring`` is the slot of the retired switch that
    turned the anchor generator off and must be True. Both are kept so
    positional callers keep working.

    -> (candidates(a, b, sources), dropped(generator, sz), buckets)

    ``buckets`` is the grouped bucket table BOTH outputs project from.
    The two outputs are separate actions at the caller (two table
    writes), and their filters push down differently, so WITHOUT help
    Spark plans the full explode->groupBy shuffle twice — verified:
    zero ReusedExchange in the physical plan. A caller writing both
    should ``buckets.persist()`` first and unpersist after (the
    pipeline does); Spark's cache manager rewrites both projections
    onto the cached table by plan-fragment equality.
    """
    if simhash_cfg is not None:
        raise ValueError("SimHash blocking was removed; pass None")
    if use_substring is not True:
        raise ValueError("the substring generator always runs; pass True")
    # The generator tag is an INT id (0=lsh, 1=substring): narrower
    # shuffle key (4 B vs an 8-11 B string) and cheaper hashing/compare
    # in the bucket groupBy. (A single-pass variant building one
    # concat'd array of (g,k1,k2) structs measured SLOWER: the
    # struct-building transform() HOFs are interpreted per element,
    # while these posexplodes over codegen'd int arrays are not.)
    keyed = signatures.select(
        "conv_id",
        F.posexplode(lsh_band_keys("minhash", lsh_cfg)).alias("k1", "k2"),
    ).select("conv_id", F.lit(0).alias("g"), "k1", "k2").unionByName(
        signatures.select(
            "conv_id",
            F.explode("anchors").alias("anchor"),
        ).select(
            "conv_id",
            F.lit(1).alias("g"),
            F.lit(0).alias("k1"),
            F.hash("anchor").alias("k2"),
        )
    )

    sized = keyed.groupBy("g", "k1", "k2").agg(
        F.collect_list("conv_id").alias("members"),
        F.count("*").alias("sz"),
    )
    # both outputs only look at multi-member buckets; filtering BEFORE
    # the persist point keeps the cache ~100x smaller (singleton
    # buckets are the overwhelming majority of keys on a deduplicated
    # corpus)
    multi = sized.where(F.col("sz") >= 2)
    ok = multi.where(F.col("sz") <= lsh_cfg.max_bucket_size)
    dropped = multi.where(F.col("sz") > lsh_cfg.max_bucket_size).select(
        F.when(F.col("g") == 0, F.lit("lsh"))
        .otherwise(F.lit("substring"))
        .alias("generator"),
        "sz",
    )
    m = F.array_sort("members")

    # Enumerate each bucket's pairs ENTIRELY array-side (nested
    # transform/filter higher-order functions). The old shape
    # (posexplode members carrying the full bucket array, slice +
    # explode) copied the bucket array into every member's UnsafeRow (a
    # capped 2000-member bucket ≈ 2000 x ~60 KB of memcpy). Worst-case
    # row width is bounded by the bucket cap: C(max_bucket_size, 2) pair
    # structs ≈ 60 MB at the default 2000.
    def _bucket_pairs(mcol):
        def inner(l, i):
            return F.transform(
                F.filter(mcol, lambda r, j: j > i),
                lambda r: F.struct(l.alias("a"), r.alias("b")),
            )

        return F.flatten(F.transform(mcol, inner))

    # Per-pair source attribution as a BIT MASK instead of
    # collect_set(string): bit_or is a declarative aggregate (plain long
    # buffer, partial/map-side combine) where collect_set forces
    # ObjectHashAggregate with per-group object buffers — measurably
    # cheaper at millions of pairs. The sorted sources array is
    # reconstructed natively from the mask: slice(array(x), 1, bit)
    # yields [] or [x], and concatenating in alphabetical generator
    # order ("lsh" < "substring") reproduces
    # array_sort(collect_set(source)) exactly.
    src_bit = F.expr("shiftleft(1, g)")
    mask = F.col("mask")
    sources = F.concat(
        F.slice(F.array(F.lit("lsh")), 1, mask.bitwiseAND(1)),
        F.slice(
            F.array(F.lit("substring")), 1, F.shiftright(mask, 1).bitwiseAND(1)
        ),
    )
    pairs = (
        ok.select("g", m.alias("ms"))
        .select("g", F.explode(_bucket_pairs(F.col("ms"))).alias("p"))
        .select(
            F.col("p.a").alias("a"),
            F.col("p.b").alias("b"),
            src_bit.alias("src"),
        )
        .groupBy("a", "b")
        .agg(F.bit_or("src").alias("mask"))
        .select("a", "b", sources.alias("sources"))
    )
    return pairs, dropped, multi
