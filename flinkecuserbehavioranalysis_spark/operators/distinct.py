"""Windowed distinct counts — exact and approximate (SURVEY.md §2.3 A5-A7).

Reference semantics reproduced:

- exact per-window UV: ``UvCountByWindow`` buffers *all* userIds of an
  hour into a ``Set`` (NetworkFlowAnalysis/UniqueVisitor.scala:52-66) —
  here ``count_distinct`` whose partial aggregation dedups map-side, so
  state is O(distinct) *per partition* and merges across executors (the
  reference's single Set is a single-node memory bomb at 1e8 users);
- approximate UV: the reference carries a guava bloom filter accumulator
  whose ``merge`` is literally unimplemented
  (UvByBloomFilterWithoutRedis.scala:77 ``???``) and a Redis-bitmap
  variant with a hand-rolled hash (UvWithBloomFilter.scala:93-143) —
  here Spark's built-in DataSketches HLL (``hll_sketch_agg`` /
  ``hll_sketch_estimate``): mergeable, fixed-size sketch, no external
  store.  Designed-for cardinality 1e8/hour
  (UvByBloomFilterWithoutRedis.scala:20) fits in a ~16 KB sketch per
  window at the default ``rsd``.

Both group on the BIGINT window start of ``windows.with_window_start``,
not on ``F.window``'s struct.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .windows import _window_bounds, with_window_start


def hll_lg_k(rsd: float) -> int:
    """HLL ``lgConfigK`` for a target relative standard deviation: the
    smallest k with ``1.04 / sqrt(2^k) <= rsd``, clamped to Spark's
    [4, 21].  ``rsd=0.01`` gives 14, the 2^14 registers HLL++ uses at
    that ``rsd``."""
    return min(21, max(4, math.ceil(math.log2((1.04 / rsd) ** 2))))


def windowed_distinct_count(
    df: DataFrame,
    ts_col: str,
    size: str,
    distinct_col: str,
    slide: str | None = None,
    keys: Sequence[str] = (),
    approx: bool = False,
    rsd: float = 0.01,
    count_alias: str = "uv",
) -> DataFrame:
    starts, size_s = with_window_start(df, ts_col, size, slide)
    agg = (
        F.hll_sketch_estimate(F.hll_sketch_agg(distinct_col, hll_lg_k(rsd)))
        if approx
        else F.count_distinct(F.col(distinct_col))
    ).alias(count_alias)
    return starts.groupBy("__ws", *keys).agg(agg).select(*_window_bounds(size_s), *keys, count_alias)
