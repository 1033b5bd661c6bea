"""Signature stage: documents -> (shingles, MinHash, anchors).

One ``mapInPandas`` pass computes all three artifacts per document —
a single Arrow round-trip per batch instead of three pandas-UDF columns
re-shipping the document text (SURVEY.md §2.11: vectorized pandas/Arrow
UDFs only; this is the designated slow path, everything downstream of
it is native).

The kernel is vectorized ACROSS documents, not just within one: each
Arrow batch is concatenated into a single byte buffer (documents
separated by ``max(k, gram)-1`` NUL pad bytes), the rolling k-gram
hashes are computed once over the whole buffer (the polynomial window
hash is position-independent, functions/hashing.py), and per-document
results are carved out by POSITION — windows that straddle a document
boundary are excluded by index range, never by content, so the pad byte
value is irrelevant to correctness. Distinct-per-doc, MinHash minima
and winnowing window minima are all computed
with one sort / ``reduceat`` / block-scan over the batch instead of a
Python loop per document (round-1 bottleneck: the per-doc loop was 60%
of pipeline wall time; parity with the per-doc functions is pinned by
tests/test_dedup_pipeline.py::test_batch_kernel_matches_per_doc).

Scale notes:
* ``repartition(conv_id)`` upstream gives even Arrow batches;
* signatures are ~0.5 KB/doc (128 x int32) + shingle sets; the shingle
  array is kept for the exact-Jaccard verify stage — at 10^12-turn
  scale shingle sets dominate storage, so the pipeline stores them once
  here and the verify stage joins them by conv_id instead of
  recomputing;
* kernel memory is bounded by sub-batching (~2 MB of text per kernel
  call).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from comparador_de_registros_spark.functions import hashing as H
from comparador_de_registros_spark.operators.assembly import normalize_doc_col
from comparador_de_registros_spark.plans.configs import DedupConfig

SIGNATURE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("n_shingles", T.IntegerType()),
        # stored shingles are the top 32 bits of the 64-bit gram hashes:
        # halves the dominant table + verify-shuffle bytes; within-pair
        # collision probability ~(1400^2)/2^33 ≈ 2e-4 shifts Jaccard by
        # <1e-3 — far inside the decoy/near-dup margin. The oracle
        # truncates identically (oracle.py).
        T.StructField("shingles", T.ArrayType(T.IntegerType())),
        T.StructField("minhash", T.ArrayType(T.IntegerType())),
        T.StructField("anchors", T.ArrayType(T.LongType())),
    ]
)

_U64 = np.uint64
_U64_MAX = np.iinfo(np.uint64).max

# kernel sub-batch budget: total utf-8 bytes per vectorized call
_KERNEL_TEXT_BUDGET = 2_000_000


def stored_shingles(sh64: "np.ndarray") -> "np.ndarray":
    """uint64 shingle hashes -> distinct int32 storage form."""
    return np.unique((sh64 >> np.uint64(32)).astype(np.uint32)).astype(np.int32)


def _segment_gather(
    arr: np.ndarray, starts: np.ndarray, counts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate ``arr[starts[i] : starts[i]+counts[i]]`` for every
    segment i, fully vectorized. -> (values, segment index per value)."""
    total = int(counts.sum())
    if total == 0:
        return arr[:0], np.empty(0, dtype=np.int64)
    seg_of = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    out_starts = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=out_starts[1:])
    within = np.arange(total, dtype=np.int64) - np.repeat(out_starts, counts)
    idx = np.repeat(starts, counts) + within
    return arr[idx], seg_of


def _sort_segments(vals: np.ndarray, counts: np.ndarray) -> None:
    """Sort each contiguous segment of ``vals`` in place. The segments
    (one per doc, a few hundred elements) are L1/L2-resident, so this
    loop of one C sort per doc both beats a global
    ``lexsort((vals, doc_of))`` AND streams far less DRAM — the kernel
    is bandwidth-bound, and memory traffic is what limits multi-core
    scaling on one box."""
    pos = 0
    for c in counts:
        if c > 1:
            vals[pos : pos + c].sort()
        pos += c


def _dedupe_sorted(
    vals: np.ndarray, docs: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Keep the first of each (doc, val) run in arrays already sorted by
    (doc, val). Preserves unsigned sort order within each doc — the same
    order ``np.unique`` produces per doc."""
    if len(vals) == 0:
        return vals, docs
    keep = np.empty(len(vals), dtype=bool)
    keep[0] = True
    keep[1:] = (vals[1:] != vals[:-1]) | (docs[1:] != docs[:-1])
    return vals[keep], docs[keep]


def _sliding_min(a: np.ndarray, w: int) -> np.ndarray:
    """Minimum of every length-``w`` window of ``a`` (uint64), O(n) via
    block prefix/suffix minima (the two-pass sparse-table-lite scan) —
    replaces the O(n*w) strided view the per-doc path used."""
    n = len(a)
    if n < w:
        return a[:0]
    if w == 1:
        return a
    nw = n - w + 1
    pad = (-n) % w
    b = np.concatenate([a, np.full(pad, _U64_MAX, dtype=a.dtype)]) if pad else a
    blocks = b.reshape(-1, w)
    pre = np.minimum.accumulate(blocks, axis=1).ravel()
    suf = np.minimum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
    return np.minimum(suf[:nw], pre[w - 1 : w - 1 + nw])


def _split_to_lists(vals: np.ndarray, counts: np.ndarray) -> list[np.ndarray]:
    """Per-segment views of a concatenated value array."""
    return np.split(vals, np.cumsum(counts[:-1])) if len(counts) else []


def batch_signatures(
    texts: list[str],
    cfg: DedupConfig,
    seeds: np.ndarray | None = None,
) -> dict[str, list]:
    """Vectorized signature kernel over a list of normalized documents.

    Bit-for-bit equal to running the per-doc primitives
    (H.char_shingles, H.oph_signature, H.winnow + stored_shingles) on
    each text. Returns columns ready for a pandas DataFrame. ``seeds``
    is ignored: OPH needs no per-permutation seeds (the argument stays
    for callers that still pass it).
    """
    sh_cfg, sub_cfg = cfg.shingle, cfg.substring
    k = sh_cfg.k
    n = len(texts)
    enc = [t.encode("utf-8") for t in texts]
    lens = np.fromiter((len(e) for e in enc), dtype=np.int64, count=n)
    pad = max(k, sub_cfg.gram) - 1
    buf = (b"\x00" * pad).join(enc)
    off = np.zeros(n, dtype=np.int64)
    if n > 1:
        np.cumsum(lens[:-1] + pad, out=off[1:])

    # ONE polynomial prefix pass serves shingles and anchors
    # (hashing.py: windows_from_prefix is bit-identical to the per-doc
    # rolling_kgram_hashes)
    prefix = H.byte_prefix_sums(buf)

    # --- char k-gram shingles, distinct per doc --------------------------
    grams_k = H.windows_from_prefix(prefix, k, sh_cfg.seed)
    cnt_k = np.maximum(lens - k + 1, 0)
    vals, doc_of = _segment_gather(grams_k, off, cnt_k)
    _sort_segments(vals, cnt_k)
    uvals, udocs = _dedupe_sorted(vals, doc_of)
    n_sh = np.bincount(udocs, minlength=n).astype(np.int64)

    # stored int32 form: top 32 bits, re-deduped (order stays the
    # unsigned sort order np.unique gives, int32 cast after like
    # stored_shingles)
    t32 = (uvals >> _U64(32)).astype(np.uint32)
    st_vals32, st_docs = _dedupe_sorted(t32, udocs)
    st_cnt = np.bincount(st_docs, minlength=n)
    stored = _split_to_lists(st_vals32.astype(np.int32), st_cnt)

    # --- MinHash over the unique-shingle segments -------------------------
    p = cfg.minhash.num_perm
    mh = np.zeros((n, p), dtype=np.int32)  # empty docs keep fill 0
    nz = n_sh > 0
    total_u = len(uvals)
    if total_u:
        # One-permutation hashing: uvals is sorted ascending (unsigned)
        # within each doc, so the min of every (doc, top-bits bucket)
        # run is simply its FIRST element — the whole signature batch is
        # one boolean diff + one splitmix over ~p values/doc, instead of
        # p re-hashes per shingle (functions/hashing.py:oph_signature is
        # the per-doc reference; parity pinned in tests).
        shift = _U64(64 - (p.bit_length() - 1))
        bucket = (uvals >> shift).astype(np.int64)
        first = np.ones(total_u, dtype=bool)
        first[1:] = (udocs[1:] != udocs[:-1]) | (bucket[1:] != bucket[:-1])
        rows, cols = udocs[first], bucket[first]
        with np.errstate(over="ignore"):
            mixed = H.splitmix64(uvals[first])
        m = np.full((n, p), _U64_MAX, dtype=_U64)
        m[rows, cols] = mixed
        occ = np.zeros((n, p), dtype=bool)
        occ[rows, cols] = True
        # circular left-neighbor densification, all docs at once
        idx = np.where(
            np.concatenate([occ, occ], axis=1),
            np.arange(2 * p, dtype=np.int64)[None, :],
            0,
        )
        np.maximum.accumulate(idx, axis=1, out=idx)
        filled = np.take_along_axis(
            np.concatenate([m, m], axis=1), idx, axis=1
        )[:, p:]
        mh[nz] = (filled[nz] >> _U64(32)).astype(np.int64).astype(np.int32)

    # --- winnowed substring anchors ---------------------------------------
    gram, window = sub_cfg.gram, sub_cfg.window
    grams_g = H.windows_from_prefix(prefix, gram, sub_cfg.seed)
    cnt_g = np.where(
        lens >= sub_cfg.min_doc_len, np.maximum(lens - gram + 1, 0), 0
    )
    gvals, _ = _segment_gather(grams_g, off, cnt_g)
    gstarts = np.zeros(n, dtype=np.int64)
    np.cumsum(cnt_g[:-1], out=gstarts[1:])
    # big segments: one global O(n) sliding-min scan, window starts
    # selected by position so runs never straddle a document
    w_cnt = np.where(cnt_g >= window, cnt_g - window + 1, 0)
    sm = _sliding_min(gvals, window)
    avals, adocs = _segment_gather(sm, gstarts, w_cnt)
    # small segments (0 < cnt < window): single min over the segment
    small = (cnt_g > 0) & (cnt_g < window)
    if small.any():
        nzg = cnt_g > 0
        seg_mins = np.minimum.reduceat(gvals, gstarts[nzg])
        sel = small[nzg]
        avals = np.concatenate([avals, seg_mins[sel]])
        adocs = np.concatenate([adocs, np.flatnonzero(nzg)[sel]])
        aorder = np.lexsort((avals, adocs))
        avals, adocs = avals[aorder], adocs[aorder]
    else:
        _sort_segments(avals, w_cnt)
    ua, ud = _dedupe_sorted(avals, adocs)
    a_cnt = np.bincount(ud, minlength=n)
    anchors = _split_to_lists(ua.astype(np.int64), a_cnt)

    return {
        "n_shingles": n_sh.astype(np.int32),
        "shingles": stored,
        "minhash": list(mh),
        "anchors": anchors,
    }


def scan_is_narrow(spark, df: DataFrame, cores: int) -> bool:
    """True when ``df``'s scan would land on fewer input splits than
    ``cores`` — the decision the sign stage uses to spread its input so
    the Arrow kernel keeps every core busy.

    For file-backed frames the split count is ESTIMATED from file
    metadata (sizes + the session's maxPartitionBytes/openCostInBytes
    packing rule): one cheap FileSystem RPC per file instead of
    ``df.rdd.getNumPartitions()``, whose DataFrame->RDD conversion costs
    ~1.5 s of driver work in a cold session (profiled — it was the
    second-largest fixed cost of the bench's minhash line). Non-file
    sources (local relations in tests) keep the .rdd probe; frames with
    >512 files are treated as wide (at that width the spread decision
    is irrelevant and per-file RPCs are not). The probe is a heuristic,
    so it never fails the query: if the metadata calls raise (a file
    gone between listing and stat, an unreachable FileSystem) it falls
    back to the .rdd probe."""
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        return df.rdd.getNumPartitions() < cores
    if len(files) >= 512:
        return False
    try:
        jvm = spark._jvm
        ju = jvm.org.apache.spark.network.util.JavaUtils
        mpb = ju.byteStringAsBytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
        )
        open_cost = ju.byteStringAsBytes(
            spark.conf.get("spark.sql.files.openCostInBytes", "4MB")
        )
        hconf = spark._jsc.hadoopConfiguration()
        total = 0
        fs = None
        for f in files:
            p = jvm.org.apache.hadoop.fs.Path(f)
            if fs is None:
                fs = p.getFileSystem(hconf)
            total += fs.getFileStatus(p).getLen()
    except Exception:
        return df.rdd.getNumPartitions() < cores
    # Spark packs (file piece + openCost) greedily into maxPartitionBytes
    # bins; this ceiling matches that for small files and underestimates
    # only when single files exceed mpb — exactly the case where the
    # scan is already wide.
    est = (total + len(files) * open_cost + mpb - 1) // mpb
    return est < cores


def compute_signatures(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """``docs(conv_id, doc)`` -> SIGNATURE_SCHEMA rows.

    The text is normalized natively (lower + whitespace collapse)
    before crossing into Python, so the Arrow transfer carries the
    minimal payload; the Python side runs the batched kernel above.
    """

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = [(t or "") for t in pdf["norm"]]
            ids = pdf["conv_id"].reset_index(drop=True)
            # sub-batch by text volume to bound kernel memory
            start = 0
            while start < len(texts):
                end, budget = start, _KERNEL_TEXT_BUDGET
                while end < len(texts) and (budget > 0 or end == start):
                    budget -= len(texts[end])
                    end += 1
                cols = batch_signatures(texts[start:end], cfg)
                out = {"conv_id": ids.iloc[start:end].reset_index(drop=True)}
                out.update(cols)
                yield pd.DataFrame(out)
                start = end

    # reuse a caller-materialized norm column when present (the docs
    # checkpoint and signature_dup_pairs both carry one) instead of
    # re-running the normalization over the full text a second time;
    # by construction it is the same normalize_doc_col(doc) value
    if "norm" in docs.columns:
        prepared = docs.select("conv_id", "norm")
    else:
        prepared = docs.select(
            "conv_id", normalize_doc_col(F.col("doc")).alias("norm")
        )
    return prepared.mapInPandas(compute, SIGNATURE_SCHEMA)
