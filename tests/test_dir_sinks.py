"""The three Python DataSource directory sinks (jsonl_dir, avro_dir,
arrow_ipc_dir) share sources/pysink.DirWriter's two-phase commit: a
second append keeps every earlier part and the _SUCCESS manifest
counts the whole directory; an overwrite keeps only the new rows."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.ipc as ipc
import pytest

from sparkifydb_datawarehouse_spark.sources import arrow_ipc, avro_source, pysink


def _jsonl_ids(blob: bytes) -> list[int]:
    return [json.loads(line)["id"] for line in blob.decode().splitlines()]


def _avro_ids(blob: bytes) -> list[int]:
    return [r["id"] for r in avro_source.decode_ocf(blob)[1]]


def _arrow_ids(blob: bytes) -> list[int]:
    return ipc.open_file(pa.BufferReader(blob)).read_all().column("id").to_pylist()


# format → (register, part-file extension, decoder of one part file)
FORMATS = {
    "jsonl_dir": (pysink.register, "jsonl", _jsonl_ids),
    "avro_dir": (avro_source.register_sink, "avro", _avro_ids),
    "arrow_ipc_dir": (arrow_ipc.register_sink, "arrow", _arrow_ids),
}


def _committed(out: str, fmt: str) -> tuple[list[int], dict]:
    """Ids in the committed part files, and the _SUCCESS manifest
    (checked against the part-file count)."""
    _, ext, decode = FORMATS[fmt]
    files = os.listdir(out)
    assert not [f for f in files if f.startswith("_tmp_")], "uncommitted temps"
    parts = [f for f in files if f.startswith("part-") and f.endswith("." + ext)]
    ids = []
    for p in parts:
        with open(os.path.join(out, p), "rb") as fh:
            ids += decode(fh.read())
    with open(os.path.join(out, "_SUCCESS")) as fh:
        manifest = json.load(fh)
    assert manifest["n_files"] == len(parts), (manifest, sorted(files))
    return sorted(ids), manifest


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_append_keeps_parts_and_overwrite_replaces(spark, tmp_path, fmt):
    FORMATS[fmt][0](spark)
    out = str(tmp_path / fmt)
    rows = spark.range(130).selectExpr("id", "CAST(id * 7 AS STRING) AS s")
    first = rows.filter("id < 100").repartition(4)
    second = rows.filter("id >= 100").repartition(2)

    def save(df, mode: str) -> None:
        df.write.format(fmt).option("path", out).mode(mode).save()

    save(first, "append")
    save(second, "append")
    ids, manifest = _committed(out, fmt)
    assert ids == list(range(130))
    assert manifest["n_rows"] == 130

    save(second, "overwrite")
    ids, manifest = _committed(out, fmt)
    assert ids == list(range(100, 130))
    assert manifest["n_rows"] == 30
