"""Dedup pipeline configuration.

The shingle/signature config is THE contract the recall gate is defined
at (BASELINE.json: "matching the reference's cluster assignments
(dup-pair recall >= 0.99) at the same shingle/signature config"): the
oracle (brute-force exact Jaccard + transitive closure) and the LSH
pipeline both consume the same :class:`DedupConfig`.

The engine runs one configuration shape: utf-8 byte k-gram shingles,
one-permutation MinHash, LSH bands plus winnowed substring anchors, and
the substring ladder in verify. The settable fields below are sizes,
thresholds and seeds; conversation ids stay ``conv_id`` strings from
candidates to clusters. The verify-plan and CC fast-path split points
are constants next to the code that reads them (operators/verify.py,
operators/cluster.py).

Default LSH geometry: 128 permutations as 32 bands x 4 rows. The S-curve
gives pair-catch probability 1-(1-J^4)^32 — at the default Jaccard
threshold 0.8 a true dup pair is missed with p ~ 5e-8, comfortably
inside the 0.99 recall gate. The substring anchors add the partial-
overlap dups Jaccard cannot see. There is no SimHash generator (see
``DedupConfig.use_simhash``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import ClassVar


@dataclass(frozen=True)
class ShingleConfig:
    """Document -> shingle-set config: hashed utf-8 byte k-grams of the
    normalized text (robust to token-level edits)."""

    # 12-byte char grams: small enough that 1-2 token edits keep J >= 0.9
    # on real-length conversations, large enough that reordering turns
    # (boundary-crossing grams rewritten) lands clearly under the 0.8
    # threshold — the stable-turn-ordering invariant stays observable.
    k: int = 12
    seed: int = 0x5EED_5EED

    def __post_init__(self) -> None:
        if self.k < 1:
            raise ValueError("k must be >= 1")


@dataclass(frozen=True)
class MinHashConfig:
    """One-permutation hashing with circular densification
    (Li/Owen/Zhang 2012, Shrivastava/Li 2014): one hash pass per shingle
    instead of num_perm — ~num_perm x cheaper per byte than classic
    k-permutation MinHash with the same per-bucket collision
    probability J."""

    num_perm: int = 128
    # OPH uses no per-permutation seeds; the constant stays for callers
    # that still derive k-permutation seeds from it.
    seed: ClassVar[int] = 0x00C0FFEE

    def __post_init__(self) -> None:
        if self.num_perm & (self.num_perm - 1):
            raise ValueError("num_perm must be a power of two for OPH")


@dataclass(frozen=True)
class LshConfig:
    bands: int = 32
    rows: int = 4
    # skew guards: buckets larger than max_bucket_size are dropped from
    # pair enumeration (logged in metrics); exact-dup collapse upstream
    # makes oversized buckets near-dup mega-clusters only.
    max_bucket_size: int = 2000


@dataclass(frozen=True)
class SubstringConfig:
    """Winnowing fingerprints for the exact-substring stage: any common
    substring of length >= window + gram - 1 shares at least one
    selected anchor (Schleimer/Wilkerson/Aiken winnowing guarantee).

    ``min_overlap`` is the duplicate RULE: a candidate pair failing
    Jaccard is still a duplicate if one normalized doc contains the
    other, or if their longest common substring (suffix-array verify,
    functions/suffix.py) is >= min_overlap bytes. It must be >=
    window + gram - 1, otherwise the anchor generator cannot guarantee
    such pairs become candidates at all."""

    gram: int = 32  # bytes per fingerprinted gram
    window: int = 64  # winnowing window (positions per selection)
    min_doc_len: int = 96  # skip docs shorter than a detectable overlap
    min_overlap: int = 200  # LCS bytes that make a pair a substring dup
    seed: int = 0x5FF1_A11A

    def __post_init__(self) -> None:
        if self.min_overlap < self.window + self.gram - 1:
            raise ValueError(
                "min_overlap below window+gram-1 breaks the winnowing "
                "candidate-recall guarantee"
            )


@dataclass(frozen=True)
class DedupConfig:
    shingle: ShingleConfig = field(default_factory=ShingleConfig)
    minhash: "MinHashConfig" = None  # type: ignore[assignment]
    lsh: LshConfig = field(default_factory=LshConfig)
    substring: SubstringConfig = field(default_factory=SubstringConfig)
    jaccard_threshold: float = 0.8
    # SimHash Hamming blocking was removed: under the ``is_dup`` rule a
    # SimHash-only candidate is a dup only if its Jaccard is >= the
    # threshold, and the 32x4 bands miss such a pair with
    # p ~ (1-0.8^4)^32 ~ 5e-8; SimHash cannot accept pairs on its own
    # either, because its distinct-token features ignore order and would
    # merge turn-reordered decoys. Measured before removal: SimHash-only
    # candidates numbered 1,203 (sf0.001 docs), 840 (sf0.01) and 101,290
    # (sf0.1), with 0 dups among them, and 97,388 of 99,120 candidates on
    # the low-entropy benchmark corpus. The constant stays (always False)
    # so callers that branch on it keep working.
    use_simhash: ClassVar[bool] = False
    # The substring anchors and the verify ladder always run (the only
    # generator for partial-overlap dups); the constant stays for callers
    # that branch on it.
    use_substring: ClassVar[bool] = True
    # assemble-shuffle skew guard: cap turns per conversation (first
    # max_turns in turn_idx order; truncations are flagged + counted in
    # the stage metrics, never silent). 10k turns * ~120 B/turn keeps
    # the worst aggregation task ~MBs; raise for corpora with genuinely
    # long conversations.
    max_turns_per_conv: int | None = 10_000

    def __post_init__(self) -> None:
        if self.minhash is None:
            object.__setattr__(self, "minhash", MinHashConfig())
        if self.minhash.num_perm != self.lsh.bands * self.lsh.rows:
            raise ValueError(
                f"num_perm ({self.minhash.num_perm}) must equal "
                f"bands*rows ({self.lsh.bands}*{self.lsh.rows})"
            )
