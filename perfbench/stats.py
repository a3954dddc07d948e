"""Pure helpers for the benchmark: percentiles, ratios, planted-truth scores
and order-insensitive output digests. No Spark import, so the unit tests run
in milliseconds."""

from __future__ import annotations

import hashlib
import math
import time
from collections import Counter
from collections.abc import Sequence

import numpy as np


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 <= p <= 100:
        raise ValueError(f"percentile {p} outside [0, 100]")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """Highest whole percentile that leaves at least ``beyond`` of ``n``
    samples above its nearest-rank sample; None when ``n`` is too small."""
    if n <= beyond:
        return None
    return math.floor(100 * (n - beyond) / n)


def ratio(num: float, den: float) -> float:
    """``num / den``, 0.0 when the base is 0 (a layer that saw no input)."""
    return num / den if den else 0.0


def _pairs(counts: Counter) -> int:
    return sum(c * (c - 1) // 2 for c in counts.values())


def pair_scores(predicted: Sequence, truth: Sequence) -> tuple[float, float]:
    """(recall, precision) of the co-clustered record pairs.

    ``predicted[i]`` and ``truth[i]`` are the cluster and the planted label of
    record ``i``. A pair is predicted when both records share a cluster and
    true when both share a label; counting through the contingency table
    keeps this linear in the number of records. An empty base scores 1.0.
    """
    if len(predicted) != len(truth):
        raise ValueError("predicted and truth differ in length")
    tp = _pairs(Counter(zip(predicted, truth)))
    true_pairs = _pairs(Counter(truth))
    pred_pairs = _pairs(Counter(predicted))
    recall = tp / true_pairs if true_pairs else 1.0
    precision = tp / pred_pairs if pred_pairs else 1.0
    return recall, precision


def digest(columns: Sequence[np.ndarray]) -> str:
    """Order-insensitive sha256 of equal-length integer/bool columns: rows are
    sorted by all columns (first column most significant) before hashing."""
    cols = [np.ascontiguousarray(np.asarray(c).astype(np.int64)) for c in columns]
    order = np.lexsort(cols[::-1])
    h = hashlib.sha256()
    for c in cols:
        h.update(c[order].tobytes())
    return h.hexdigest()


def self_time(span: dict, children: Sequence[dict]) -> float:
    """A span's duration minus the part of it its child spans cover
    (overlapping children are counted once)."""
    covered = 0.0
    cur_start = cur_end = None
    for c in sorted(children, key=lambda c: c["start"]):
        s, e = max(c["start"], span["start"]), min(c["end"], span["end"])
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        covered += cur_end - cur_start
    return (span["end"] - span["start"]) - covered


def speed_probe(iterations: int = 400_000) -> float:
    """CPU seconds this thread takes for a fixed integer loop: how fast the
    host's CPU runs at the moment, which moves with its clock and with the
    load of other guests on it."""
    t0 = time.thread_time()
    x = 0
    for i in range(iterations):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.thread_time() - t0
