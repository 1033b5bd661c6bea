"""Brute-force dedup oracle.

The recall gate (BASELINE.json: dup-pair recall >= 0.99 "vs reference
clusters at the same shingle/signature config") is measured against
this oracle: exact O(n^2) Jaccard over the SAME shingle sets the
pipeline computes, plus substring containment, plus transitive closure
— i.e. what the reference semantics produce when the candidate
generation is exhaustive instead of LSH-approximated.

Driver-side on purpose (only ever run on small/medium fixtures); the
pipeline is the distributed path.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from comparador_de_registros_spark.functions import hashing as H
from comparador_de_registros_spark.plans.configs import DedupConfig


class _UnionFind:
    def __init__(self) -> None:
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        root = x
        while self.parent.setdefault(root, root) != root:
            root = self.parent[root]
        while self.parent[x] != root:  # path compression
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # min-label canonicalization to match the pipeline's labels
            lo, hi = sorted((ra, rb))
            self.parent[hi] = lo


@dataclass
class OracleResult:
    dup_pairs: set[tuple[str, str]]  # (a, b) with a < b
    clusters: dict[str, str]  # conv_id -> min-label cluster id


def brute_force_oracle(docs: DataFrame, cfg: DedupConfig) -> OracleResult:
    """``docs(conv_id, norm)`` -> exhaustive dup pairs + clusters under
    the pipeline's exact verification semantics (Jaccard >= threshold on
    the config's shingle sets, or containment of the shorter normalized
    doc in the longer, or suffix-array LCS >= substring.min_overlap)."""
    rows = docs.select("conv_id", "norm").collect()
    ids = [r["conv_id"] for r in rows]
    norms = {r["conv_id"]: r["norm"] or "" for r in rows}
    from comparador_de_registros_spark.operators.signatures import stored_shingles

    shingle_sets = {}
    for cid in ids:
        sh = H.char_shingles(norms[cid], cfg.shingle.k, cfg.shingle.seed)
        # same int32 truncation the pipeline stores/verifies with
        shingle_sets[cid] = frozenset(int(x) for x in stored_shingles(sh))

    from comparador_de_registros_spark.functions.suffix import lcs_len

    min_len = cfg.substring.window + cfg.substring.gram - 1
    min_overlap = cfg.substring.min_overlap
    # LCS pre-filter: a common substring of min_overlap bytes contributes
    # min_overlap - k + 1 k-gram positions; word-soup text maps those to
    # many distinct shingles. Pairs sharing < _LCS_PREFILTER distinct
    # shingles are skipped (only pathologically repetitive text — e.g. a
    # 200-byte run of one character — could beat this bound; the fixture
    # and the rule target natural-language transcripts).
    lcs_prefilter = 32
    pairs: set[tuple[str, str]] = set()
    uf = _UnionFind()
    sorted_ids = sorted(ids)
    for i, a in enumerate(sorted_ids):
        sa, na = shingle_sets[a], norms[a]
        for b in sorted_ids[i + 1 :]:
            sb, nb = shingle_sets[b], norms[b]
            dup = False
            inter = len(sa & sb) if sa and sb else 0
            if inter and inter / (len(sa) + len(sb) - inter) >= cfg.jaccard_threshold:
                dup = True
            if not dup:
                short, long_ = (na, nb) if len(na) <= len(nb) else (nb, na)
                if len(short) >= min_len and short in long_:
                    dup = True
                elif (
                    inter >= lcs_prefilter
                    and len(na) >= min_overlap
                    and len(nb) >= min_overlap
                    and lcs_len(na.encode("utf-8"), nb.encode("utf-8"))
                    >= min_overlap
                ):
                    dup = True
            if dup:
                pairs.add((a, b))
                uf.union(a, b)

    clusters = {cid: uf.find(cid) for cid in ids}
    return OracleResult(dup_pairs=pairs, clusters=clusters)


def pair_recall(
    oracle: OracleResult, clusters: DataFrame
) -> tuple[float, int, int]:
    """Fraction of oracle dup pairs co-clustered by the pipeline.
    -> (recall, n_caught, n_oracle_pairs)"""
    assign = {r["conv_id"]: r["cluster_id"] for r in clusters.collect()}
    if not oracle.dup_pairs:
        return 1.0, 0, 0
    caught = sum(
        1
        for a, b in oracle.dup_pairs
        if assign.get(a) is not None and assign.get(a) == assign.get(b)
    )
    return caught / len(oracle.dup_pairs), caught, len(oracle.dup_pairs)
