"""Connected components on the duplicate-pair graph.

Alternating large-star / small-star iterations (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014) expressed as
DataFrame joins + aggregations — converges in O(log n) rounds on
path-like graphs and ~2 rounds on the star-shaped clusters dedup
produces. GraphFrames is unavailable offline (SURVEY.md §7); this is
the standard published construction, not a port of anything in the
reference (which has no clustering stage at all — SURVEY.md §2.3).

Scale notes:
* each round is two shuffles (groupBy min + join back);
* ``localCheckpoint`` truncates lineage every round so the plan does
  not grow exponentially with iterations (reference-free requirement,
  SURVEY.md §4 item 3);
* convergence check = count + checksum of the edge set, observed
  DURING the round's checkpoint job (zero extra actions per round);
* node ids are any orderable column type: the pipeline passes conv_id
  strings (lexicographic order), the tests also pass longs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from comparador_de_registros_spark.conf import local_frame

# Bounded-size fast path: below this edge count the component labeling
# runs as a driver-side union-find over the (already counted) edge set
# instead of O(log n) distributed rounds. Each distributed round is ~6
# shuffles; under AQE that is ~7 tiny jobs whose scheduling + planning
# overhead dominates wall time on small graphs (profiled at the bench:
# ~20 jobs / 2.5-4 s for a 3k-edge graph the driver labels in <50 ms).
# The cap bounds driver memory (~200k edges ≈ tens of MB of Python
# objects, far under the 8 GB driver heap) the same way the IVF
# centroid collect and broadcast thresholds do; above it the
# distributed path is IDENTICAL to before.
_CC_LOCAL_MAX_EDGES = 200_000
# ... and, for string ids, a byte gate on the same collect: the edge
# cap is blind to how long the ids are (200k edges of 1 KB ids would
# collect 400 MB). Raw id bytes of the edge set, observed in the same
# job as the edge count; 32 MB is 80 B per id at the edge cap, above
# uuid-sized ids. Fixed-width (long) ids need no gate: the edge cap
# already bounds their bytes.
_CC_LOCAL_MAX_BYTES = 32 << 20


def _canonical_edges(edges: DataFrame, a: str, b: str) -> DataFrame:
    return (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("u"),
            F.greatest(F.col(a), F.col(b)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame, p: int) -> DataFrame:
    """Connect every neighbor larger than u to min(N(u) ∪ {u})."""
    # one explicit exchange on u; the groupBy and the join on u reuse it
    sym = (
        edges.select("u", "v")
        .unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .repartition(p, "u")
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", "u").alias("m"))
    # no trailing distinct: duplicate edges are harmless to the min
    # aggregations in the small-star pass that always follows (its
    # final distinct bounds the round output), and dropping it saves
    # one full shuffle per iteration
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
    )


def _small_star(edges: DataFrame, p: int) -> DataFrame:
    """Orient edges large->small; connect N(u) ∪ {u} to the minimum."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).repartition(p, "u")
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    neighbor_edges = (
        directed.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edges = mins.select("u", F.col("m").alias("v"))
    # hash partitioning on u satisfies the (u, v) distinct as well
    return (
        neighbor_edges.unionAll(self_edges)
        .where(F.col("u") != F.col("v"))
        .repartition(p, "u")
        .distinct()
    )


def _fingerprint_cols() -> list:
    """Edge-set fingerprint (count + order-independent hash sum), as
    observe() columns so the convergence check piggybacks on the
    round's localCheckpoint job — zero extra actions per round."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.hash("u", "v").cast("long")), F.lit(0)).alias("h"),
    ]


def _local_components(spark, cur: DataFrame) -> DataFrame:
    """Driver-side union-find over a BOUNDED canonical edge set
    (``cur``: distinct (u, v), u != v, no nulls). Output is exactly the
    distributed fixpoint's: every node labeled with its component's
    minimum id. Python string comparison equals Spark's UTF8 binary
    comparison for valid UTF-8 (byte order == code-point order), and
    long ids compare numerically in both, so min labels agree."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for row in cur.collect():
        u, v = row[0], row[1]
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    label: dict = {}
    for node in parent:
        r = find(node)
        m = label.get(r)
        if m is None or node < m:
            label[r] = node
    rows = [(n, label[find(n)]) for n in parent]
    schema = T.StructType(
        [
            T.StructField("conv_id", cur.schema["u"].dataType, True),
            T.StructField("cluster_id", cur.schema["v"].dataType, True),
        ]
    )
    # broadcast-hint the result: a driver-built relation carries no
    # size statistics (defaultSizeInBytes = Long.Max), so without the
    # hint every caller's singleton-attach join plans as a sort-merge
    # over the full corpus id table. The row count is bounded by the
    # fast-path caps (<= 2 * local_max_edges nodes), well inside
    # broadcast limits; the distributed path below stays unhinted.
    return F.broadcast(local_frame(spark, rows, schema))


def connected_components(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    max_iter: int = 25,
    local_max_edges: int | None = None,
) -> DataFrame:
    """-> (conv_id, cluster_id): every node in the edge set labeled with
    its component's minimum node id. Nodes absent from ``edges`` are
    absent here — the pipeline unions singletons back explicitly.

    Graphs at or under ``local_max_edges`` (default
    ``_CC_LOCAL_MAX_EDGES`` = 200k) and, with string ids,
    ``_CC_LOCAL_MAX_BYTES`` of raw id bytes are labeled by a
    driver-side union-find — a bounded collect decided by the edge
    count and id bytes the convergence observation already produces
    for free; larger graphs run the unchanged distributed
    large-star/small-star rounds."""
    spark = edges.sparkSession
    obs0 = Observation()
    canon = _canonical_edges(edges, a, b)
    obs_cols = _fingerprint_cols()
    if isinstance(canon.schema["u"].dataType, T.StringType):
        id_bytes = F.sum(F.octet_length("u") + F.octet_length("v"))
        obs_cols.append(F.coalesce(id_bytes, F.lit(0)).alias("bytes"))
    cur = canon.observe(obs0, *obs_cols).localCheckpoint()
    got = obs0.get
    n_edges = int(got["n"] or 0)
    if local_max_edges is None:
        local_max_edges = _CC_LOCAL_MAX_EDGES
    if n_edges <= local_max_edges and got.get("bytes", 0) <= _CC_LOCAL_MAX_BYTES:
        return _local_components(spark, cur)
    # Right-size the iteration's shuffles to the GRAPH, not the corpus:
    # the dup-pair edge set is orders of magnitude smaller than the
    # document table, and each round is 6 shuffles — at the session's
    # corpus-sized partition count that is thousands of near-empty
    # tasks whose scheduling overhead dominates the stage (profiled:
    # ~1.9k tasks, the worst-scaling stage of the pipeline). ~50k edges
    # per reduce task keeps partitions small enough for memory and
    # large enough to amortize task dispatch. ``p`` is RE-DERIVED from
    # each round's observed edge count (large-star rounds can
    # transiently inflate the edge set well above the input) and passed
    # to the rounds as explicit repartition counts: the session conf is
    # shared by every concurrent job and stays untouched.
    max_p = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def _partitions_for(n: int) -> int:
        return max(1, min(max_p, (n + 49_999) // 50_000))

    p = _partitions_for(n_edges)
    prev_fp = None
    for _ in range(max_iter):
        obs = Observation()
        cur = (
            _small_star(_large_star(cur, p), p)
            .observe(obs, *_fingerprint_cols())
            .localCheckpoint()
        )
        got = obs.get
        fp = (got["n"], got["h"])
        if fp == prev_fp:
            break
        prev_fp = fp
        p = _partitions_for(int(got["n"] or 0))
    # converged: every edge points node -> component root
    members = cur.select(F.col("u").alias("conv_id"), F.col("v").alias("cluster_id"))
    roots = cur.select(F.col("v").alias("conv_id")).distinct().withColumn(
        "cluster_id", F.col("conv_id")
    )
    return (
        members.unionByName(roots)
        .groupBy("conv_id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
