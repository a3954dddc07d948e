"""End-to-end resumable pipeline: corpus -> parse -> dedupe -> clusters.

Each stage checkpoints to ``work_dir`` as an IceTable snapshot (C8,
plans/checkpoint.py); re-running with the same work_dir resumes after the
last completed stage. The stage lineage records an order-insensitive hash
of every corpus column the pipeline reads, and the ``clusters`` stage adds
the dedup config and ``source_col``, so a resume against different input or
settings rebuilds instead of returning stale clusters.
"""

from __future__ import annotations

import dataclasses
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biblib_spark.operators.dedupe import DedupConfig, dedupe_records, records_from_parsed
from biblib_spark.plans.checkpoint import input_lineage, run_stage
from biblib_spark.sources.parse import parse_with_diagnostics, split_diagnostics


def run_pipeline(
    spark: SparkSession,
    corpus: DataFrame,
    work_dir: str,
    cfg: DedupConfig | None = None,
    source_col: str | None = None,
) -> DataFrame:
    """Returns the clusters DataFrame (rid, cluster_id, is_unique, source).

    Stage 1 parses each payload ONCE into the diagnostics union (citations +
    quarantine rows, reference parse_with_diagnostics); the parsed and
    quarantine views are filters over that single checkpointed scan.
    ``source_col`` names a corpus column carrying the per-payload source
    register (M12); every citation of a payload inherits it.
    """
    cfg = cfg or DedupConfig()
    lineage = input_lineage(
        corpus, ["row_id", "content"] + ([source_col] if source_col else [])
    )

    diag = run_stage(
        spark,
        os.path.join(work_dir, "diagnostics"),
        lambda: parse_with_diagnostics(corpus),
        lineage,
    )
    parsed, _quarantine = split_diagnostics(diag)

    def _records() -> DataFrame:
        if source_col is None:
            return records_from_parsed(parsed)
        # per-payload source register joined back by payload id; the corpus
        # scan prunes to two columns
        reg = corpus.select(
            F.col("row_id").alias("__src_row_id"),
            F.col(source_col).alias("__src"),
        )
        joined = parsed.join(reg, parsed["row_id"] == reg["__src_row_id"])
        return records_from_parsed(joined, source_col="__src")

    return run_stage(
        spark,
        os.path.join(work_dir, "clusters"),
        lambda: dedupe_records(_records(), cfg),
        {**lineage, "cfg": dataclasses.asdict(cfg), "source_col": source_col},
    )
