"""The benchmark's workloads.

Each workload is a closed loop with one caller: the benchmark process
submits the next iteration (or micro-batch) only after the previous one
has finished, on a ``local[nproc]`` session. Every timed iteration is
checked against the planted ground truth of its input; a raise or a
failed check counts as a failed iteration.

``pipeline_long_convs``
    A transcript table of long conversations (20-40 turns of 30-60
    words), run through ``DedupPipeline.run`` over all six stages with
    catalog checkpoints.
``docs_low_entropy``
    5,000 short low-entropy documents (lowentropy.py) through
    ``signature_dup_pairs`` -> ``is_dup`` count -> ``connected_components``
    -> cluster count: fixed-cost and candidate-bound, with many thin
    pairs for verify and no checkpoint writes.

The traced run of each workload also passes its input through the
layers the other workload does not reach, so that every layer is
measured on both inputs: the long conversations through
``signature_dup_pairs``, the documents (as one-turn conversations)
through the pipeline's assemble and exact stages, and both through
``StreamingDedup.process_batch`` in micro-batches. Streaming shares the
sign and verify layers but uses them differently: it reads its growing
corpus state back every batch and takes verify's large plan.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

from comparador_de_registros_spark.functions import hashing as H
from comparador_de_registros_spark.operators import doc_dedup
from comparador_de_registros_spark.operators import lsh as lsh_ops
from comparador_de_registros_spark.operators.assembly import normalize_doc_col
from comparador_de_registros_spark.operators.cluster import connected_components
from comparador_de_registros_spark.operators.pipeline import STAGES, DedupPipeline
from comparador_de_registros_spark.operators.signatures import (
    batch_signatures,
    compute_signatures,
    scan_is_narrow,
)
from comparador_de_registros_spark.operators.verify import (
    release_scored,
    verify_pairs,
)
from comparador_de_registros_spark.plans.configs import DedupConfig
from comparador_de_registros_spark.sources import transcripts as tg
from comparador_de_registros_spark.sources.catalog import ParquetCatalog
from comparador_de_registros_spark.streaming.stream_dedup import StreamingDedup
from pyspark.sql import functions as F

import lowentropy
from session import BenchSession
from spans import Tracer, attribute, event_log_file, layer_metrics

CFG = DedupConfig()

LONG_SPEC = dict(n_base=150, min_turns=20, max_turns=40, min_words=30, max_words=60)
# the pipeline warm-up runs over one conversation in WARM_SAMPLE
WARM_SAMPLE = 10
# documents in the docs warm-up table: the cold cost is paid once per
# code path, not per row
WARM_DOCS = 1_000
# micro-batches a traced run streams its input in, each in a span
STREAM_BATCHES = 2
# pipeline stage -> layer name
STAGE_LAYER = dict(
    zip(STAGES, ("assembly", "pipeline.exact", "signatures", "lsh", "verify", "cluster"))
)
CHECKPOINT_TABLES = (
    "docs", "exact_map", "signatures", "candidates", "dropped_buckets", "verified", "clusters",
)
# the signing kernel is timed outside Spark on this much normalized text
KERNEL_SAMPLE_BYTES = 2_000_000
KERNEL_SAMPLE_DOCS = 1_000
KERNEL_REPEATS = 3

MIN_RECALL = 0.99

# per-layer metrics that are not one of the per-layer counters
SPECIFIC_UNITS = {
    "assembly.turns_in": "count",
    "assembly.docs_out": "count",
    "pipeline.exact.reps_out": "count",
    "pipeline.checkpoint_bytes": "bytes",
    "pipeline.jobs": "count",
    "signatures.docs_in": "count",
    "signatures.avg_shingles": "count",
    "signatures.kernel_mb_per_core_s": "MB/s",
    "lsh.candidates_out": "count",
    "lsh.simhash_only_share": "ratio",
    "lsh.dropped_bucket_members": "count",
    "verify.dups_out": "count",
    "verify.precision": "ratio",
    "cluster.edges_in": "count",
    "cluster.clusters_out": "count",
    "streaming.state_bytes": "bytes",
    "streaming.shuffle_read_growth": "ratio",
    "trace.overhead_pct": "%",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Outcome:
    """Attempted and failed timed iterations; each failure is logged
    with its reason."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.recalls: list[float] = []
        self.decoy_merges = 0

    def check(self, what: str, recall: float, decoy_merges: int, extra_ok: bool = True, why: str = "") -> None:
        self.attempted += 1
        self.recalls.append(recall)
        self.decoy_merges += decoy_merges
        if recall < MIN_RECALL or decoy_merges or not extra_ok:
            self.failed += 1
            log(f"FAILED {what}: recall={recall:.4f} decoy_merges={decoy_merges} {why}")

    def check_pairs(self, what: str, found: set, pairs, decoys) -> None:
        """A set of verified dup pairs held to planted pairs and decoys."""
        recall = sum(p in found for p in pairs) / len(pairs)
        self.check(what, recall, sum(p in found for p in decoys))

    def raised(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        log(f"FAILED {what}: raised\n{traceback.format_exc()}")


def co_clustered(cluster_of: dict, pairs) -> int:
    return sum(
        1
        for a, b in pairs
        if a in cluster_of and cluster_of.get(a) == cluster_of.get(b)
    )


def dup_pairs(verified) -> set:
    return {(r["a"], r["b"]) for r in verified.where("is_dup").select("a", "b").collect()}


def kernel_mb_per_core_s(texts: list[str]) -> float:
    """``batch_signatures`` alone, single core, on normalized texts:
    MB of UTF-8 text per CPU second of this process (median of a few
    repeats)."""
    seeds = H.make_seeds(CFG.minhash.num_perm, CFG.minhash.seed)
    mb = sum(len(t.encode("utf-8")) for t in texts) / 1e6
    cpu = []
    for _ in range(KERNEL_REPEATS):
        c0 = time.process_time()
        batch_signatures(texts, CFG, seeds)
        cpu.append(time.process_time() - c0)
    return mb / statistics.median(cpu)


def kernel_sample(rows) -> list[str]:
    """The first rows (in the caller's fixed order) up to the sample
    size."""
    out, size = [], 0
    for r in rows:
        if size >= KERNEL_SAMPLE_BYTES:
            break
        out.append(r[0])
        size += len(r[0].encode("utf-8"))
    return out


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def timed_loop(seconds: float, once) -> list[float]:
    """Run ``once`` (which returns its own elapsed time) until
    ``seconds`` have passed, at least once."""
    start, times = time.perf_counter(), []
    while not times or time.perf_counter() - start < seconds:
        times.append(once())
    return times


class Workload:
    """One run of one workload: set-up, timed iterations, optional
    traced iteration, and the result line."""

    name: str

    def __init__(self, work: str, seed: int, trace: bool):
        self.work = work
        self.seed = seed
        self.trace = trace
        self.outcome = Outcome()
        self.n_dups: int | None = None
        t0 = time.perf_counter()
        self.sess = BenchSession(work, event_log=trace)
        self.session_s = time.perf_counter() - t0
        self.spark = self.sess.spark
        self.tracer = Tracer(self.sess.python_worker_cpu_s)

    def same_dups(self, n: int) -> bool:
        """Dup-pair count identical to the first iteration's."""
        if self.n_dups is None:
            self.n_dups = n
        return n == self.n_dups

    def run(self, seconds: float) -> dict:
        try:
            t0 = time.perf_counter()
            self.generate()
            t1 = time.perf_counter()
            self.warm_up()
            gen_s, warm_s = t1 - t0, time.perf_counter() - t1
            setup_s = self.session_s + gen_s + warm_s
            log(f"setup: session {self.session_s:.2f}s, inputs {gen_s:.2f}s, warm-up {warm_s:.2f}s")
            if self.trace:
                specific = self.traced()
            else:
                e2e = self.timed(seconds)
        finally:
            t0 = time.perf_counter()
            self.sess.stop()
            log(f"session stop: {time.perf_counter() - t0:.2f}s")
        o = self.outcome
        log(
            f"gate: attempted={o.attempted} failed={o.failed} "
            f"error_rate={o.failed / max(o.attempted, 1):.3f} "
            f"dup_pair_recall(min)={min(o.recalls, default=0.0):.4f} "
            f"decoy_merges={o.decoy_merges}"
        )
        if self.trace:
            attribute(self.tracer, event_log_file(self.sess.event_log_dir))
            metrics = layer_metrics(self.tracer)
            specific.update(self.span_figures())
            for k, unit in SPECIFIC_UNITS.items():
                metrics[k] = (specific.get(k, 0.0), unit)
            trace_dir = os.path.join(os.path.dirname(self.work), "traces")
            os.makedirs(trace_dir, exist_ok=True)
            self.tracer.write(os.path.join(trace_dir, f"{self.name}_seed{self.seed}.json"))
        else:
            metrics = dict(e2e)
            metrics["setup_s"] = (setup_s, "s")
        return {
            "correct": o.failed == 0 and o.attempted > 0,
            "attempted": o.attempted,
            "failed": o.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def span_figures(self) -> dict:
        """The layer-specific figures that need the attributed spans."""
        spans = self.tracer.spans
        reads = [s.counters["shuffle_read_bytes"] for s in spans if s.name == "streaming"]
        return {
            "streaming.shuffle_read_growth": (
                reads[-1] / reads[0] if len(reads) > 1 and reads[0] else 0.0
            ),
            "pipeline.jobs": sum(s.counters["jobs"] for s in spans if s.name == "pipeline"),
        }

    @staticmethod
    def overhead_pct(untraced_s: float, traced_s: float) -> float:
        """Traced iteration against the untraced one run just before it.
        The session is still warming up, which biases the figure down;
        an untraced iteration after the traced one would cancel that but
        costs a fifth of a traced run."""
        return (traced_s - untraced_s) / untraced_s * 100.0

    def _pipeline(self, turns, run_id: str, stages=STAGES, traced: bool = False):
        """``DedupPipeline.run`` over ``stages`` into a catalog of its
        own. Traced, each stage is one ``run(stages=(s,))`` call in its
        layer's span, under a ``pipeline`` span. Returns the catalog and
        the elapsed time, the final cluster count included."""
        catalog = ParquetCatalog(os.path.join(self.work, f"pipe_{run_id}"))
        pipe = DedupPipeline(catalog=catalog, cfg=CFG, run_id=run_id, metrics_mode="deferred")
        n_clusters = None
        t0 = time.perf_counter()
        if not traced:
            clusters = pipe.run(self.spark, turns, stages=stages)
            n_clusters = clusters.select("cluster_id").distinct().count()
        else:
            with self.tracer.span("pipeline"):
                for stage in stages:
                    with self.tracer.span(STAGE_LAYER[stage]):
                        clusters = pipe.run(self.spark, turns, stages=(stage,))
                        if stage == "cluster":
                            n_clusters = clusters.select("cluster_id").distinct().count()
        elapsed = time.perf_counter() - t0
        if "cluster" not in stages:
            # the pipeline flushes its deferred metrics after the cluster
            # stage only
            pipe.flush_metrics(self.spark)
        log(f"pipeline {run_id} {'+'.join(stages)}: {elapsed:.2f}s, {n_clusters} clusters")
        return catalog, elapsed

    def _pipeline_figures(self, catalog: ParquetCatalog, run_id: str) -> tuple[dict, dict]:
        """Assembly and exact figures of a pipeline run, from its own
        metrics table and the checkpoint files' metadata; also returns
        the whole metrics table as ``{(stage, metric): value}``."""
        m = {
            (r["stage"], r["metric"]): r["value"]
            for r in catalog.read(self.spark, f"metrics/{run_id}_all").collect()
        }
        figures = {
            "assembly.turns_in": m[("assemble", "n_turns")],
            "assembly.docs_out": m[("assemble", "n_docs")],
            "pipeline.exact.reps_out": m[("exact", "n_reps")],
            "pipeline.checkpoint_bytes": sum(
                b
                for t in CHECKPOINT_TABLES
                if catalog.exists(t)
                for _f, _r, b in catalog.partition_lineage(t)
            ),
        }
        return figures, m

    def _stream(self, docs, pairs, decoys) -> float:
        """``docs`` (conv_id, doc) as micro-batches through
        ``StreamingDedup``, split by a hash of ``conv_id``, each in a
        ``streaming`` span. Batch 0 starts from an empty corpus state and
        also pays the streaming line's first-use cost; a batch more would
        cost a tenth of a traced run. One check over every batch's
        verified pairs follows. Returns the bytes of the corpus state
        left behind."""
        state = os.path.join(self.work, "state")
        streamer = StreamingDedup(state, CFG)
        batched = docs.select(
            "conv_id", "doc", F.pmod(F.crc32("conv_id"), F.lit(STREAM_BATCHES)).alias("batch")
        )
        try:
            for b in range(STREAM_BATCHES):
                batch = batched.where(F.col("batch") == b).select("conv_id", "doc")
                with self.tracer.span("streaming") as sp:
                    streamer.process_batch(batch, b)
                log(f"stream batch {b}: {time.time() - sp.start:.2f}s")
            found = dup_pairs(self.spark.read.parquet(os.path.join(state, "verified")))
        except Exception:
            for _ in range(STREAM_BATCHES):
                self.outcome.raised("stream")
            return 0.0
        for _ in range(STREAM_BATCHES):
            self.outcome.check_pairs("stream", found, pairs, decoys)
        return dir_bytes(state)


class LongConvs(Workload):
    name = "pipeline_long_convs"

    def generate(self) -> None:
        spark = self.spark
        self.spec = tg.TranscriptSpec(seed=self.seed, **LONG_SPEC)
        tg.generate_transcripts(spark, self.spec).write.parquet(os.path.join(self.work, "turns"))
        self.turns = spark.read.parquet(os.path.join(self.work, "turns"))
        self.n_turns = sum(
            rows for _f, rows, _b in ParquetCatalog(self.work).partition_lineage("turns")
        )
        truth = tg.truth_pairs(spark, self.spec).collect()
        self.dup_pairs = [(r["a"], r["b"]) for r in truth]
        # the streaming line bands MinHash only, so it is held to the
        # exact and near duplicates, which MinHash banding can reach
        self.stream_pairs = [(r["a"], r["b"]) for r in truth if r["kind"] in ("exact", "near")]
        # a planted derivative that truth_clusters keeps as a singleton
        # is a turn-reordered decoy of its base
        planted = dict(tg.truth_clusters(spark, self.spec).collect())
        self.decoy_pairs = [
            tuple(sorted((tg.base_conv_id(b), tg.dup_conv_id(b))))
            for b in range(self.spec.n_base)
            if planted.get(tg.dup_conv_id(b)) == tg.dup_conv_id(b)
        ]

    def warm_up(self) -> None:
        sample = self.turns.where(F.crc32("conv_id") % WARM_SAMPLE == 0)
        self._pipeline(sample, "warm")
        shutil.rmtree(os.path.join(self.work, "pipe_warm"), ignore_errors=True)

    def _check_pipeline(self, catalog: ParquetCatalog, what: str) -> None:
        cluster_of = dict(catalog.read(self.spark, "clusters").collect())
        n_dups = catalog.read(self.spark, "verified").where("is_dup").count()
        recall = co_clustered(cluster_of, self.dup_pairs) / len(self.dup_pairs)
        self.outcome.check(
            what, recall, co_clustered(cluster_of, self.decoy_pairs),
            self.same_dups(n_dups), f"dup pairs {n_dups} != {self.n_dups}",
        )

    def _pipeline_once(self, run_id: str, traced: bool = False) -> tuple[float, ParquetCatalog | None]:
        t0 = time.perf_counter()
        try:
            catalog, elapsed = self._pipeline(self.turns, run_id, traced=traced)
            self._check_pipeline(catalog, f"pipeline {run_id}")
            return elapsed, catalog
        except Exception:
            self.outcome.raised(f"pipeline {run_id}")
            return time.perf_counter() - t0, None

    def timed(self, seconds: float) -> dict:
        n = [0]

        def once() -> float:
            n[0] += 1
            elapsed, catalog = self._pipeline_once(f"it{n[0]}")
            if catalog is not None:
                shutil.rmtree(catalog.base_dir, ignore_errors=True)
            return elapsed

        wall = statistics.median(timed_loop(seconds, once))
        return {"wall_s": (wall, "s"), "turns_per_s": (self.n_turns / wall, "1/s")}

    def _doc_dedup(self, docs) -> None:
        """The assembled conversations through ``signature_dup_pairs`` in
        a ``doc_dedup`` span, held to every planted pair."""
        table = docs.select(F.col("conv_id").alias("doc_id"), F.col("doc").alias("text"))
        verified = None
        try:
            with self.tracer.span("doc_dedup"):
                verified = doc_dedup.signature_dup_pairs(table, CFG).persist()
                found = dup_pairs(verified)
            self.outcome.check_pairs("doc_dedup", found, self.dup_pairs, self.decoy_pairs)
        except Exception:
            self.outcome.raised("doc_dedup")
        finally:
            if verified is not None:
                verified.unpersist()
                doc_dedup.release_signature_run(verified)

    def traced(self) -> dict:
        before, _ = self._pipeline_once("before")
        traced_s, catalog = self._pipeline_once("traced", traced=True)
        out = {"trace.overhead_pct": self.overhead_pct(before, traced_s)}
        if catalog is None:
            return out
        spark = self.spark
        figures, m = self._pipeline_figures(catalog, "traced")
        out.update(figures)
        n_cand = m[("candidates", "n_candidates")]
        simhash_only = (
            catalog.read(spark, "candidates")
            .where(F.col("sources") == F.array(F.lit("simhash")))
            .count()
        )
        dups = m[("verify", "n_verified_dups")]
        out.update(
            {
                "signatures.docs_in": m[("sign", "n_signed")],
                "signatures.avg_shingles": m[("sign", "avg_shingles")],
                "lsh.candidates_out": n_cand,
                "lsh.simhash_only_share": simhash_only / n_cand if n_cand else 0.0,
                "lsh.dropped_bucket_members": m[("candidates_dropped", "n_dropped_members")],
                "verify.dups_out": dups,
                "verify.precision": dups / n_cand if n_cand else 0.0,
                "cluster.edges_in": dups + m[("exact", "n_exact_members")],
                "cluster.clusters_out": m[("cluster", "n_clusters")],
            }
        )
        docs = catalog.read(spark, "docs")
        norms = docs.select("norm", "conv_id").orderBy("conv_id").limit(KERNEL_SAMPLE_DOCS).collect()
        out["signatures.kernel_mb_per_core_s"] = kernel_mb_per_core_s(kernel_sample(norms))
        self._doc_dedup(docs)
        out["streaming.state_bytes"] = self._stream(
            docs.select("conv_id", "doc"), self.stream_pairs, self.decoy_pairs
        )
        return out


class DocsLowEntropy(Workload):
    name = "docs_low_entropy"

    def generate(self) -> None:
        self.gen = lowentropy.generate(self.seed)
        self.docs = self._table("documents", self.gen)
        self.warm_docs = self._table("warm", lowentropy.generate(self.seed + 1, WARM_DOCS))

    def _table(self, name: str, gen: lowentropy.LowEntropyDocs):
        d = os.path.join(self.work, name)
        os.makedirs(d)
        lowentropy.write_parquet(gen, os.path.join(d, "documents.parquet"))
        return self.spark.read.parquet(d)

    def warm_up(self) -> None:
        self._once("warm", docs=self.warm_docs)

    def _clusters(self, verified, docs) -> tuple:
        comp = connected_components(verified.where("is_dup").select("a", "b"))
        ids = docs.select(F.col("doc_id").cast("string").alias("conv_id"))
        clusters = ids.join(comp, "conv_id", "left").select(
            "conv_id", F.coalesce("cluster_id", "conv_id").alias("cluster_id")
        )
        return clusters, clusters.select("cluster_id").distinct().count()

    def _check(self, what: str, clusters, n_dups: int) -> None:
        cluster_of = dict(clusters.collect())
        g = self.gen
        recall = co_clustered(cluster_of, g.dup_pairs) / len(g.dup_pairs)
        self.outcome.check(
            what, recall, co_clustered(cluster_of, g.decoy_pairs),
            self.same_dups(n_dups), f"dup pairs {n_dups} != {self.n_dups}",
        )

    def _once(self, what: str, docs=None, found: set | None = None) -> float:
        """One iteration over the workload's table, checked and counted as
        attempted; or, given other ``docs`` (the warm-up), unchecked and
        raising on failure. ``found``, if given, receives the dup pairs
        after the timing."""
        gate = docs is None
        docs = self.docs if gate else docs
        t0 = time.perf_counter()
        verified = None
        try:
            verified = doc_dedup.signature_dup_pairs(docs, CFG).persist()
            n_dups = verified.where("is_dup").count()
            clusters, n_clusters = self._clusters(verified, docs)
            elapsed = time.perf_counter() - t0
            log(f"docs {what}: {elapsed:.2f}s, {n_dups} dup pairs, {n_clusters} clusters")
            if gate:
                self._check(what, clusters, n_dups)
            if found is not None:
                found |= dup_pairs(verified)
            return elapsed
        except Exception:
            if not gate:
                raise
            self.outcome.raised(what)
            return time.perf_counter() - t0
        finally:
            if verified is not None:
                verified.unpersist()
                doc_dedup.release_signature_run(verified)

    def timed(self, seconds: float) -> dict:
        n = [0]

        def once() -> float:
            n[0] += 1
            return self._once(f"it{n[0]}")

        wall = statistics.median(timed_loop(seconds, once))
        return {
            "wall_s": (wall, "s"),
            # one document counts as one turn
            "turns_per_s": (len(self.gen.doc_id) / wall, "1/s"),
        }

    def _recomposed(self) -> dict:
        """``signature_dup_pairs`` recomposed from its layer calls, with
        the same persist points, one span per layer, then clustering."""
        spark, tr = self.spark, self.tracer
        t0 = time.perf_counter()
        with tr.span("doc_dedup"):
            base = self.docs.select(
                F.col("doc_id").cast("string").alias("conv_id"), F.col("text").alias("doc")
            )
            if scan_is_narrow(spark, base, spark.sparkContext.defaultParallelism):
                n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
                base = base.repartition(n_part, "conv_id")
            convs = base.select("conv_id", normalize_doc_col(F.col("doc")).alias("norm"))
            with tr.span("signatures"):
                sigs = compute_signatures(convs, CFG).persist()
                n_signed = sigs.count()
            with tr.span("lsh"):
                cand, dropped, _ = lsh_ops.unified_candidates(
                    sigs, CFG.lsh, CFG.simhash if CFG.use_simhash else None, CFG.use_substring
                )
                cand = cand.persist()
                n_cand = cand.count()
            with tr.span("verify"):
                verified = verify_pairs(cand, sigs, convs, CFG, n_candidates=n_cand).persist()
                n_dups = verified.where("is_dup").count()
        with tr.span("cluster"):
            clusters, n_clusters = self._clusters(verified, self.docs)
        elapsed = time.perf_counter() - t0
        log(f"docs traced: {elapsed:.2f}s, {n_dups} dup pairs, {n_clusters} clusters")
        return dict(
            elapsed=elapsed, convs=convs, sigs=sigs, cand=cand, dropped=dropped,
            verified=verified, clusters=clusters, n_signed=n_signed, n_cand=n_cand,
            n_dups=n_dups, n_clusters=n_clusters,
        )

    def _other_layers(self) -> dict:
        """The documents as one-turn conversations through the pipeline's
        assemble and exact stages, then as micro-batches through the
        streaming line."""
        g = self.gen
        ids = F.col("doc_id").cast("string").alias("conv_id")
        turns = self.docs.select(
            ids,
            F.lit(0).alias("turn_idx"),
            F.lit("user").alias("role"),
            F.col("text"),
            F.lit("").alias("tool"),
            F.lit("2025-01-01 00:00:00").cast("timestamp").alias("ts"),
        )
        out = {}
        try:
            catalog, _ = self._pipeline(turns, "traced", stages=("assemble", "exact"), traced=True)
            out, _ = self._pipeline_figures(catalog, "traced")
        except Exception:
            self.outcome.raised("pipeline traced")
        docs = self.docs.select(ids, F.col("text").alias("doc"))
        out["streaming.state_bytes"] = self._stream(docs, g.dup_pairs, g.decoy_pairs)
        return out

    def traced(self) -> dict:
        # the untraced iteration's pairs are the reference of the drift
        # guard: it is a plain signature_dup_pairs call
        reference: set = set()
        before = self._once("before", found=reference)
        try:
            r = self._recomposed()
        except Exception:
            self.outcome.raised("traced")
            return {}
        cand, sigs, verified = r["cand"], r["sigs"], r["verified"]
        try:
            self._check("traced", r["clusters"], r["n_dups"])
            n_cand = r["n_cand"]
            simhash_only = cand.where(F.col("sources") == F.array(F.lit("simhash"))).count()
            dropped = r["dropped"].agg(F.sum("sz")).first()[0] or 0
            avg_sh = sigs.agg(F.avg("n_shingles")).first()[0]
            # drift guard: the recomposition must find exactly the pairs
            # the library's own composition finds
            mine = dup_pairs(verified)
            self.outcome.check(
                "drift guard", 1.0, 0, mine == reference,
                f"recomposed {len(mine)} dup pairs vs signature_dup_pairs {len(reference)}, "
                f"{len(mine ^ reference)} differ",
            )
            norms = r["convs"].select("norm", "conv_id").orderBy("conv_id").collect()
        except Exception:
            self.outcome.raised("traced checks")
            return {}
        finally:
            release_scored(verified)
            for df in (verified, cand, sigs):
                df.unpersist()
        share = simhash_only / n_cand if n_cand else 0.0
        if share < 0.9:
            log(f"low-entropy property not reproduced: simhash-only share {share:.3f} < 0.9")
        out = {
            "trace.overhead_pct": self.overhead_pct(before, r["elapsed"]),
            "signatures.docs_in": r["n_signed"],
            "signatures.avg_shingles": avg_sh,
            "signatures.kernel_mb_per_core_s": kernel_mb_per_core_s(kernel_sample(norms)),
            "lsh.candidates_out": n_cand,
            "lsh.simhash_only_share": share,
            "lsh.dropped_bucket_members": dropped,
            "verify.dups_out": r["n_dups"],
            "verify.precision": r["n_dups"] / n_cand if n_cand else 0.0,
            "cluster.edges_in": r["n_dups"],
            "cluster.clusters_out": r["n_clusters"],
        }
        out.update(self._other_layers())
        return out


WORKLOADS = {w.name: w for w in (LongConvs, DocsLowEntropy)}
