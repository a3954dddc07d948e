"""Resumable code-clone pipeline: files -> features -> edges -> clusters.

The north_rule's checkpoint discipline applied to the code arm: every stage
is an IceTable snapshot whose manifest carries per-file row counts and
content-hash XORs (plans/checkpoint.py, C8), so a killed job re-submitted
with the same ``work_dir`` resumes after the last completed stage, a resume
against *different* input (any of ``row_id``, ``lang``, ``content``)
rebuilds, and a stage whose files were tampered with or partially lost is
refused.

Stage split rationale (what a resume actually saves at 10^12 files):

- ``features``: the only Python in the pipeline (identifier-canonicalization
  Arrow UDF) plus the full content scan — by far the most expensive stage to
  repeat; its output is slim (rid, lang, sha, norm_hash, ctoks).
- ``edges``: all four candidate tiers + JVM verifies — the shuffle-heavy
  stage; output is a tiny (a, b) long-pair table.
- ``clusters``: connected components (partition-local union-find) + size
  join.

Reference parity: biblib has no resume (batch library, src/dedupe.rs); the
stage discipline mirrors the citation arm (plans/pipeline.py) per the
north_rule's "resumable from checkpoint with per-partition lineage" clause.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from biblib_spark.operators.codedup import (
    clusters_from_edges,
    code_dup_edges,
    code_features,
)
from biblib_spark.plans.checkpoint import input_lineage, run_stage


def run_code_pipeline(
    spark: SparkSession, files: DataFrame, work_dir: str
) -> DataFrame:
    """Returns the clusters DataFrame (row_id, cluster_id, cluster_size).

    ``files`` must have the input_hint shape
    ``(row_id, repo, path, commit, lang, content)``.
    """
    lineage = input_lineage(files, ["row_id", "lang", "content"])

    feat = run_stage(
        spark,
        os.path.join(work_dir, "features"),
        lambda: code_features(files),
        lineage,
    )
    edges = run_stage(
        spark,
        os.path.join(work_dir, "edges"),
        lambda: code_dup_edges(feat),
        lineage,
    )
    return run_stage(
        spark,
        os.path.join(work_dir, "clusters"),
        lambda: clusters_from_edges(feat, edges),
        lineage,
    )
