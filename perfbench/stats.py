"""Pure helpers of the benchmark: metric names, medians, the tail rule,
the dup-free corpus id map and the planted-pair scoring.

Nothing here touches Spark, so ``perfbench/test_perfbench.py`` checks it
without a session.
"""

from __future__ import annotations

import math
import re
from collections.abc import Iterable, Mapping

METRIC_NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# positions of a 100-id synth block that plant no partner: regular bases
# (0-54) and novels (93-99). 55-59 are short-caption bases that copies may
# point at, 60-92 are copies, near-captions, containment rows and the
# shared hot caption.
UNIQUE_POSITIONS = tuple(range(55)) + tuple(range(93, 100))


def valid_metric_name(name: str) -> bool:
    """A name starts with a letter or digit and has at most 64 letters,
    digits, ``_``, ``.`` and ``-``."""
    return METRIC_NAME_RE.fullmatch(name) is not None


def median(xs: Iterable[float]) -> float:
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def tail_percentile(samples: Iterable[float], beyond: int = 10):
    """The highest percentile that still has ``beyond`` samples above it.

    Nearest-rank: with ``n`` sorted samples the value of rank ``n - beyond``
    (1-based) has exactly ``beyond`` samples after it, and it sits at
    percentile ``100 * (n - beyond) / n``. Returns ``(percentile, value, n)``
    or ``None`` when there are not more than ``beyond`` samples."""
    s = sorted(samples)
    n = len(s)
    rank = n - beyond
    if rank < 1:
        return None
    return 100.0 * rank / n, s[rank - 1], n


def unique_row_id(k: int) -> int:
    """The k-th synth row id of the dup-free corpus: only base and novel
    positions, 62 of every 100 ids."""
    block, r = divmod(k, len(UNIQUE_POSITIONS))
    return block * 100 + UNIQUE_POSITIONS[r]


def score_pairs(cluster_of: Mapping[str, str],
                truth: Iterable[tuple[str, str, bool]]):
    """(recall, false_merges, positives, negatives) of planted pairs.

    ``truth`` holds (id_a, id_b, positive). A positive pair is recalled when
    both ends share a cluster; a negative (planted below-threshold) pair is
    a false merge when they do. An id missing from ``cluster_of`` is its own
    singleton cluster."""
    hit = pos = merged = neg = 0
    for a, b, positive in truth:
        same = cluster_of.get(a, a) == cluster_of.get(b, b)
        if positive:
            pos += 1
            hit += same
        else:
            neg += 1
            merged += same
    recall = hit / pos if pos else math.nan
    return recall, merged, pos, neg
