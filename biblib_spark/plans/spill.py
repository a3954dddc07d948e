"""Columnar spill for fan-out intermediates.

``localCheckpoint`` materializes the full row set into block-manager memory,
and every downstream branch re-reads EVERY column of it. The dedup feature
table fans out nine ways (six candidate tiers, two verify sides, the election
join) but no consumer reads more than ~half its columns — a parquet spill on
the shuffle-local dir (tmpfs in this sandbox, executor-local NVMe on a real
cluster) gives each consumer columnar pruning plus lightweight compression at
the cost of one write job, and like a checkpoint it truncates lineage so the
downstream joins replan against a flat scan.

Spilled directories are deleted at session exit (atexit); callers that loop
(bench repeats) should call ``cleanup`` eagerly so tmpfs does not accumulate.
A process that dies hard (OOM, kill -9) never runs its atexit hook, so the
first spill of a NEW process also sweeps spill dirs whose mtime is older
than ``_STALE_S`` (2 hours) — on a tmpfs local dir
those orphans are resident RAM, and a few crashed sessions' leftovers
(observed: 4.8 GB) shrink the headroom every later job runs in.
"""

from __future__ import annotations

import atexit
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame

_LIVE: set[str] = set()
_SWEPT = False
_STALE_S = 2 * 3600


def _sweep_stale(path: str) -> None:
    """Once per process: drop sibling spill dirs older than the stale
    threshold. Age-gated so a concurrently-running session's live spills
    (same box, different pid) are never touched — no job here holds one
    spill across hours, crashes leave them forever."""
    global _SWEPT
    if _SWEPT:
        return
    _SWEPT = True
    now = time.time()
    try:
        entries = os.listdir(path)
    except OSError:
        return
    for name in entries:
        p = os.path.join(path, name)
        if p in _LIVE:
            continue
        try:
            if now - os.path.getmtime(p) > _STALE_S:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            continue


def _base_dir() -> str:
    base = os.environ.get(
        "SPARK_LOCAL_DIRS",
        "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
    )
    # SPARK_LOCAL_DIRS may be a comma list (Spark round-robins block dirs);
    # the parquet spill just needs one of them
    base = base.split(",")[0]
    path = os.path.join(base, "spill")
    os.makedirs(path, exist_ok=True)
    _sweep_stale(path)
    return path


def cleanup(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    _LIVE.discard(path)


def cleanup_all() -> None:
    for p in list(_LIVE):
        cleanup(p)


atexit.register(cleanup_all)


def spill_to_parquet(df: DataFrame, name: str = "stage") -> tuple[DataFrame, str]:
    """Write ``df`` to a fresh parquet dir and return (re-read df, path)."""
    spark = df.sparkSession
    path = os.path.join(_base_dir(), f"{name}-{uuid.uuid4().hex[:12]}")
    df.write.mode("overwrite").parquet(path)
    _LIVE.add(path)
    return spark.read.parquet(path), path
