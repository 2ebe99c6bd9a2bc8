"""tables.replace_dir: the one way to rewrite a live directory in
place. A failed build leaves the live directory byte-identical and no
sibling behind; the build may read the live directory; and the three
in-place rewrites (a view refresh, an upsert batch, a compaction)
leave no temp or old sibling next to the directory they rewrite."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from sparkifydb_datawarehouse_spark.operators.matview import IncrementalAggView
from sparkifydb_datawarehouse_spark.sources.compaction import compact
from sparkifydb_datawarehouse_spark.streaming.sinks import upsert_batch
from sparkifydb_datawarehouse_spark.tables import load_table, replace_dir


def _contents(d) -> dict[str, bytes]:
    out = {}
    for root, _dirs, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


def _live(tmp_path):
    live = tmp_path / "live"
    (live / "sub").mkdir(parents=True)
    (live / "a.bin").write_bytes(b"\x00old")
    (live / "sub" / "b.txt").write_text("old")
    return live


def test_failed_build_leaves_live_dir_untouched(tmp_path):
    live = _live(tmp_path)
    before = _contents(live)

    def crashing(tmp: str) -> None:
        os.makedirs(tmp)
        with open(os.path.join(tmp, "a.bin"), "wb") as fh:
            fh.write(b"partial")
        raise RuntimeError("build crashed")

    with pytest.raises(RuntimeError, match="build crashed"):
        replace_dir(str(live), crashing)
    assert _contents(live) == before
    assert os.listdir(tmp_path) == ["live"]


def test_build_reads_live_dir_and_result_is_swapped_in(tmp_path):
    live = _live(tmp_path)

    def build(tmp: str) -> None:
        os.makedirs(tmp)
        with open(os.path.join(tmp, "a.bin"), "wb") as fh:
            fh.write((live / "a.bin").read_bytes() + b"+new")

    replace_dir(str(live) + "/", build)
    assert _contents(live) == {"a.bin": b"\x00old+new"}
    assert os.listdir(tmp_path) == ["live"]
    # a missing directory is created
    replace_dir(str(tmp_path / "fresh"), build)
    assert sorted(os.listdir(tmp_path)) == ["fresh", "live"]


def test_in_place_rewrites_leave_no_sibling(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    mv = IncrementalAggView(
        str(tmp_path / "mv"),
        keys=["o_orderstatus"],
        measures={"n": ("count", "o_orderkey")},
    )
    mv.refresh(orders.filter(F.col("o_orderkey") % 2 == 0))
    mv.refresh(orders.filter(F.col("o_orderkey") % 2 == 1))
    assert mv.read(spark).agg(F.sum("n")).first()[0] == orders.count()

    sink = str(tmp_path / "sink")
    merge = upsert_batch(sink, ["k"], "v")
    merge(spark.createDataFrame([(1, 1), (2, 1)], "k long, v long"), 0)
    merge(spark.createDataFrame([(1, 2), (3, 1)], "k long, v long"), 1)
    assert sorted(map(tuple, spark.read.parquet(sink).collect())) == [
        (1, 2),
        (2, 1),
        (3, 1),
    ]
    compact(spark, sink, target_bytes=1 << 30)
    assert spark.read.parquet(sink).count() == 3

    assert sorted(os.listdir(tmp_path)) == ["mv", "sink"]
