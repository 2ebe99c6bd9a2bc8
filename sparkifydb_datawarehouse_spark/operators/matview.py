"""Incremental materialized-view maintenance for mergeable aggregates.

The reference recomputes every star-schema table from scratch on each
run (`make etl` drops and reloads everything —
/root/reference/create_tables.py:12-44, /root/reference/etl.py:33-50).
At 100 TB a full recompute of an aggregate over an append-only fact
table is the single largest avoidable cost: yesterday's partitions
did not change, so yesterday's partial aggregates are still valid.

This module maintains `MV = fact GROUP BY keys AGG measures` as
parquet keyed state:
- the stored state holds MERGEABLE partials (sum, count, min, max —
  avg is derived sum/count at read time, never stored),
- `refresh()` aggregates ONLY the new data slice and full-outer-merges
  it into the state by group key,
- `read()` finalizes derived measures.

Cost model: refresh = scan(delta) + shuffle(delta groups) +
merge-join(state groups). The fact table's history is never re-read —
the state file plays the role of every prior partition's partial agg.
The same decomposition is what makes the HLL-sketch rollup
(q_agg_hll_sketch) and t-digest percentiles scale: store mergeable
summaries, not inputs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import read_parquet, replace_dir

MERGE_RULES = {
    "sum": (F.sum, lambda a, b: a + b),
    "count": (lambda c: F.count(c), lambda a, b: a + b),
    "min": (F.min, F.least),
    "max": (F.max, F.greatest),
}


class IncrementalAggView:
    """A materialized GROUP-BY view maintained from append-only deltas.

    measures: {out_name: (kind, column)} with kind in MERGE_RULES.
    """

    def __init__(self, state_dir: str, keys: list[str],
                 measures: dict[str, tuple[str, str]]):
        for name, (kind, _col) in measures.items():
            if kind not in MERGE_RULES:
                raise ValueError(f"measure {name}: unmergeable kind {kind!r}")
        self.state_dir = state_dir
        self.keys = keys
        self.measures = measures

    def _partial(self, delta: DataFrame) -> DataFrame:
        aggs = [
            MERGE_RULES[kind][0](F.col(col)).alias(name)
            for name, (kind, col) in self.measures.items()
        ]
        return delta.groupBy(*self.keys).agg(*aggs)

    def _exists(self) -> bool:
        return os.path.exists(os.path.join(self.state_dir, "_SUCCESS"))

    def refresh(self, delta: DataFrame) -> None:
        """Fold one new slice of the fact table into the view state.

        The delta must be rows NOT previously refreshed (an append-only
        partition, a stream micro-batch, one ingest day). The merge is
        a full outer join on the group keys: groups only in the state
        pass through, new groups insert, overlapping groups combine.
        """
        spark = delta.sparkSession
        part = self._partial(delta)
        if self._exists():
            state = read_parquet(spark, [self.state_dir])
            merged = state.alias("s").join(
                part.alias("d"), on=self.keys, how="full_outer"
            )
            cols = [F.col(k) for k in self.keys]
            for name, (kind, _col) in self.measures.items():
                combine = MERGE_RULES[kind][1]
                s, d = F.col(f"s.{name}"), F.col(f"d.{name}")
                cols.append(
                    F.when(s.isNull(), d)
                    .when(d.isNull(), s)
                    .otherwise(combine(s, d))
                    .alias(name)
                )
            out = merged.select(*cols)
        else:
            out = part
        # the state is both source and sink of the merge
        replace_dir(self.state_dir, out.write.parquet)

    def read(self, spark: SparkSession,
             derived: dict[str, tuple[str, str]] | None = None) -> DataFrame:
        """The current view. derived: {out: (sum_name, count_name)}
        adds ratio measures (e.g. avg) finalized from stored partials."""
        df = read_parquet(spark, [self.state_dir])
        for out, (num, den) in (derived or {}).items():
            df = df.withColumn(out, F.col(num) / F.col(den))
        return df
