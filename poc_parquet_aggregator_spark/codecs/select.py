"""Per-chunk codec auto-selector (north rule).

Given a column chunk, compute cardinality / run-length / value-range stats
(ints.int_stats), evaluate the exact encoded size of every codec under this
blob format (ints.estimate_sizes), and pick the argmin. The reference analog
is streaming_selector.py's threshold-driven mode choice
(/root/reference/src/streaming_selector.py:12-138) — here the decision is
per column chunk and provably size-optimal within the codec family.
"""

from __future__ import annotations

import numpy as np

from .ints import estimate_sizes, int_stats


def select_int_codec(a: np.ndarray) -> tuple[int, dict, dict[int, int]]:
    """(codec_id, stats, per-codec size estimates) for an int32 chunk."""
    stats = int_stats(a)
    sizes = estimate_sizes(stats)
    best = min(sizes, key=sizes.get)
    return best, stats, sizes
