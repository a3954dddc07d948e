"""Structured Streaming surface.

The reference is strictly batch (no watermarks, no stateful operators —
SURVEY.md §2.9/§7.4), so the streaming extension covers the incremental
paths a landing zone needs: ``readStream`` over a growing corpus directory
-> the SAME stateless parse/feature kernels (``mapInPandas`` reuses as-is on
streaming DataFrames) -> per-microbatch sinks; cross-batch exact dedup via
the ``dropDuplicates`` state store; and cross-batch NEAR-dup dedup via
``applyInPandasWithState`` keyed by LSH bucket (streaming/stateful.py) — a
duplicate landing in a later microbatch joins its twin's cluster without
reprocessing history. Batch resumability lives in
``biblib_spark.plans.checkpoint``; both commit through the same IceTable
snapshot format (``biblib_spark.plans.icetable``).
"""

from biblib_spark.streaming.ingest import (
    stream_exact_dedup,
    stream_features,
    stream_parse,
)
from biblib_spark.streaming.stateful import (
    merge_cluster_map,
    run_incremental_dedup,
    stateful_near_dup_edges,
)

__all__ = [
    "stream_parse",
    "stream_features",
    "stream_exact_dedup",
    "stateful_near_dup_edges",
    "merge_cluster_map",
    "run_incremental_dedup",
]
