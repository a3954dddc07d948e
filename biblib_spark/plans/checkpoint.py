"""Stage checkpointing with per-partition lineage (C8, SURVEY.md §2.8).

Every resumable stage is an IceTable (plans/icetable.py): a stage output is
one ``overwrite`` snapshot commit whose header carries

- the input lineage dict the stage was built from (``summary.lineage``), so
  resuming a work_dir against *different* input or config is detected, not
  silently skipped,
- per data file row counts and content-hash XORs (the manifest) — the
  north_rule's "checkpoints per-partition lineage + metrics": a resumed run
  re-derives the per-file counters and refuses to trust a stage whose files
  were tampered with or partially lost.

The verify pass is one column-pruned scan of the stage output — at 100 TB
you would verify counts-only (footer metadata) per file and sample the
content hash; both are derived from the same manifest.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biblib_spark.plans.icetable import IceTable


class StageIntegrityError(RuntimeError):
    """A completed stage's files no longer match its recorded lineage."""


def input_lineage(df: DataFrame, cols: list[str]) -> dict:
    """Row count + order-insensitive hash of every input column a pipeline
    reads: a changed ``row_id`` or source register is a changed input even
    when the content is not. xor of per-row 64-bit hashes (xor, not sum —
    sum overflows long under ANSI mode)."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "bit_xor(xxhash64(" + ", ".join(f"`{c}`" for c in cols) + "))"
        ).alias("hxor"),
    ).collect()[0]
    return {"input_rows": row["n"], "input_hash_xor": int(row["hxor"] or 0)}


def run_stage(
    spark: SparkSession,
    path: str,
    build: Callable[[], DataFrame],
    lineage: dict | None = None,
) -> DataFrame:
    """Build-or-resume one stage, checkpointed as an IceTable at ``path``.

    Resume requires a committed snapshot whose recorded lineage equals the
    lineage of the CURRENT input (a resume against changed input rebuilds
    instead of returning stale results) and whose manifest verifies (per-file
    rows + content-hash XOR); a verification failure raises
    ``StageIntegrityError``. A rebuild is an ``overwrite`` commit: the
    superseded snapshot and its data files stay on disk, time-travelable,
    until ``IceTable.expire_snapshots``.
    """
    table = IceTable(path)
    # compare as stored: a JSON round-trip turns tuples into lists
    lineage = json.loads(json.dumps(lineage or {}))
    if (
        table.current_version() > 0
        and table.snapshot()["summary"].get("lineage") == lineage
    ):
        problems = table.verify(spark)
        if problems:
            raise StageIntegrityError(f"{path}: {'; '.join(problems)}")
    else:
        table.overwrite(build(), summary={"lineage": lineage})
    return table.read(spark)
