"""Structured Streaming dedup: readStream turns -> closed conversations
-> incremental near-dup detection, via the canonical Spark pattern
(watermarked session assembly + ``foreachBatch`` over the batch
operators).

* :func:`assemble_sessionized` — the streaming analogue of
  operators/assembly.py: a conversation is CLOSED when no turn arrives
  for ``gap`` (event time); ``session_window`` + watermark emit it
  exactly once in append mode, with the same stable-turn_idx ordering
  (per-turn text equality invariant). Late turns beyond the watermark
  are dropped by Spark's state eviction — the documented trade against
  unbounded state at 10^12-turn scale.
* :class:`StreamingDedup` — ``foreachBatch`` incremental dedup: each
  micro-batch of closed conversations is signed (the same vectorized
  kernel), banded against the ACCUMULATED signature store
  (delta x corpus join — streaming/incremental.py; the band table is
  rebuilt from the full store each batch, so the shuffle grows with the
  corpus, not only the batch), verified (Jaccard / containment / LCS),
  and appended to the verified-pairs and signature tables. State lives
  in parquet tables + the streaming checkpoint, so the query restarts
  exactly-once per batch id.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from comparador_de_registros_spark.conf import local_frame
from comparador_de_registros_spark.operators.assembly import normalize_doc_col
from comparador_de_registros_spark.operators.signatures import (
    SIGNATURE_SCHEMA,
    compute_signatures,
)
from comparador_de_registros_spark.operators.verify import (
    release_scored,
    verify_pairs,
)
from comparador_de_registros_spark.plans.configs import DedupConfig
from comparador_de_registros_spark.streaming.incremental import (
    incremental_candidates,
)

TURN_SEPARATOR = "\n"

DOCS_NORM_SCHEMA = T.StructType(
    [T.StructField("conv_id", T.StringType()), T.StructField("norm", T.StringType())]
)


def assemble_sessionized(
    turns_stream: DataFrame,
    gap: str = "30 minutes",
    sep: str = TURN_SEPARATOR,
) -> DataFrame:
    """Streaming turns -> closed conversations.

    -> (conv_id, doc, n_turns, session_start, session_end), emitted in
    append mode once the event-time watermark passes session end + gap.
    """
    assembled = (
        turns_stream.withWatermark("ts", gap)
        .groupBy("conv_id", F.session_window("ts", gap).alias("session"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("turn_idx", "text"))
            ).alias("turns_sorted"),
            F.count(F.lit(1)).alias("n_turns"),
        )
    )
    return assembled.select(
        "conv_id",
        F.array_join(F.transform("turns_sorted", lambda t: t["text"]), sep).alias(
            "doc"
        ),
        "n_turns",
        F.col("session.start").alias("session_start"),
        F.col("session.end").alias("session_end"),
    )


@dataclass
class StreamingDedup:
    """foreachBatch sink: incremental dedup against parquet state dirs.

    ``workdir`` accumulates three tables across micro-batches:
    ``docs_norm`` (conv_id, norm), ``signatures`` (SIGNATURE_SCHEMA),
    ``verified`` (a, b, jaccard, contained, overlap, is_dup, sources) —
    each laid out as Hive-style ``batch_id=N`` partition directories
    (partition discovery surfaces ``batch_id`` as a column to readers).

    Restart replay is IDEMPOTENT at the sink, per Spark's own
    foreachBatch guidance: a re-delivered batch id (1) reads only state
    from batches STRICTLY BEFORE it — so the replay computes against
    exactly the corpus the original run saw, even though the original
    may have written its own rows before dying — and (2) overwrites its
    own ``batch_id=N`` directory instead of appending, so no duplicate
    rows survive."""

    workdir: str
    cfg: DedupConfig

    def _path(self, name: str) -> str:
        return f"{self.workdir}/{name}"

    def _read_state(
        self, spark: SparkSession, name: str, schema: T.StructType, before_batch: int
    ) -> DataFrame:
        """State accumulated by batches < ``before_batch`` (replay
        safety: a replayed batch must not see its own earlier,
        possibly-partial output)."""
        path = self._path(name)
        # existence + layout are resolved through Hadoop's FileSystem
        # API, NOT os.path: a scheme-less path on a cluster whose
        # default FS is remote (e.g. HDFS) is invisible to the driver's
        # local filesystem, and an os.path probe there would silently
        # return an empty corpus — the exact cross-batch candidate loss
        # this method exists to prevent. getFileSystem resolves the
        # path against fs.defaultFS exactly like spark.read does.
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            # first batch: no state yet
            return local_frame(spark, [], schema)
        # pre-round-3 workdirs stored flat parquet files with a
        # batch_id DATA column (append mode); partition discovery
        # over a mix of root-level files and batch_id=N dirs fails
        # or silently ignores data — fail loudly instead of
        # treating the corpus as empty (silent cross-batch
        # candidate loss)
        for st in fs.listStatus(hpath):
            if st.isFile() and st.getPath().getName().endswith(".parquet"):
                raise RuntimeError(
                    f"legacy streaming-state layout at {path}: "
                    "root-level parquet files found where batch_id=N "
                    "partition directories are expected. Rewrite each "
                    "distinct batch_id of the old table into its own "
                    f"{path}/batch_id=N directory (dropping the "
                    "batch_id column) or start from a fresh workdir."
                )
        df = spark.read.parquet(path)
        if "batch_id" not in df.columns:  # pragma: no cover
            raise RuntimeError(
                f"streaming-state table at {path} has no batch_id "
                "partition column; refusing to guess replay semantics"
            )
        return df.where(F.col("batch_id") < before_batch).drop("batch_id")

    def _write_batch(self, df: DataFrame, name: str, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(
            self._path(f"{name}/batch_id={batch_id}")
        )

    def process_batch(self, docs: DataFrame, batch_id: int) -> None:
        spark = docs.sparkSession
        new = docs.select(
            "conv_id", "doc", normalize_doc_col(F.col("doc")).alias("norm")
        ).persist()
        try:
            if new.isEmpty():
                return
            sigs_new = compute_signatures(new, self.cfg).persist()
            corpus_sigs = self._read_state(
                spark, "signatures", SIGNATURE_SCHEMA, batch_id
            )
            cand = incremental_candidates(sigs_new, corpus_sigs, self.cfg.lsh)
            all_sigs = corpus_sigs.unionByName(sigs_new)
            all_norms = self._read_state(
                spark, "docs_norm", DOCS_NORM_SCHEMA, batch_id
            ).unionByName(new.select("conv_id", "norm"))
            verified = verify_pairs(cand, all_sigs, all_norms, self.cfg)
            try:
                self._write_batch(verified, "verified", batch_id)
            finally:
                release_scored(verified)
            self._write_batch(sigs_new, "signatures", batch_id)
            self._write_batch(
                new.select("conv_id", "norm"), "docs_norm", batch_id
            )
            sigs_new.unpersist()
        finally:
            new.unpersist()

    def start(
        self,
        turns_stream: DataFrame,
        checkpoint_dir: str,
        gap: str = "30 minutes",
        trigger_available_now: bool = True,
    ):
        """Wire the full streaming query; returns the StreamingQuery."""
        docs = assemble_sessionized(turns_stream, gap)
        writer = (
            docs.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(self.process_batch)
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
