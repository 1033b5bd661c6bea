"""Incremental processing.

The reference is batch-only (chunked CSV iteration, SURVEY.md §2.10)
and the north_rule's pipeline is batch spark-submit with checkpoints,
so this package provides *incrementality*, not Structured Streaming
state: delta dedup of newly arrived conversations against the existing
signature corpus. Resume is per stage, in ``DedupPipeline.run``.
"""

from comparador_de_registros_spark.streaming.incremental import (  # noqa: F401
    incremental_candidates,
)
