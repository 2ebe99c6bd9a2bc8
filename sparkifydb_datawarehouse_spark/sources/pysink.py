"""Custom Python DataSource WRITER (Spark 4 `pyspark.sql.datasource`)
— the outbound half of the connector story (`pysource.py` is the
inbound half: batch reader with filter pushdown + stream reader).

`DirWriter` is the two-phase commit protocol the API models after
real connectors, shared by every directory sink here (`jsonl_dir`
below, `avro_dir` in avro_source.py, `arrow_ipc_dir` in arrow_ipc.py);
each sink supplies only its file encoder:

- `write(iterator)` runs ON EXECUTORS, streams its partition to a
  UNIQUELY-NAMED temp file, and returns a WriterCommitMessage naming
  it (plus row/byte counts); an empty partition writes no file.
- `commit(messages)` runs ON THE DRIVER only after every task
  succeeded: an overwrite first removes the committed parts, then the
  temp files are renamed to `part-NNNNN-<job>.<ext>` (the job id keeps
  an append from renaming over earlier parts) and the `_SUCCESS`
  manifest is rewritten with the directory's file and row totals
  (rename-as-commit: a crashed job leaves only temp files, never a
  half-visible dataset).
- `abort(messages)` removes whatever temp files the failed attempt
  left behind.

That protocol — not the JSONL formatting — is the point: it is
exactly how a warehouse keeps object-store writes atomic-ish at
100 TB (task retries produce new temp names; only the driver's
single commit makes data visible).
"""

from __future__ import annotations

import json
import os
import uuid

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceWriter,
    WriterCommitMessage,
)


@dataclass
class DirCommit(WriterCommitMessage):
    tmp_name: str  # "" for an empty partition (no file written)
    n_rows: int
    n_bytes: int


class DirWriter(DataSourceWriter):
    """Two-phase writer of one file per task into the `path` option's
    directory. Subclasses set `ext` and implement `encode`."""

    ext = ""

    def __init__(self, options: dict, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError(f"{type(self).__name__} requires a 'path' option")
        self.overwrite = overwrite
        self.job = uuid.uuid4().hex[:12]

    def encode(self, rows, fh) -> int:
        """Write the partition's rows to the binary file `fh`; return
        the row count (0: nothing written)."""
        raise NotImplementedError

    def write(self, iterator) -> DirCommit:
        os.makedirs(self.path, exist_ok=True)
        tmp = f"_tmp_{uuid.uuid4().hex}.{self.ext}"
        full = os.path.join(self.path, tmp)
        with open(full, "wb") as fh:
            n = self.encode(iterator, fh)
        if not n:
            os.remove(full)
            return DirCommit(tmp_name="", n_rows=0, n_bytes=0)
        return DirCommit(tmp_name=tmp, n_rows=n, n_bytes=os.path.getsize(full))

    def commit(self, messages) -> None:
        os.makedirs(self.path, exist_ok=True)
        manifest = os.path.join(self.path, "_SUCCESS")
        total = {"n_files": 0, "n_rows": 0}
        if self.overwrite:
            for f in os.listdir(self.path):
                if f.startswith("part-"):
                    os.remove(os.path.join(self.path, f))
        elif os.path.exists(manifest):
            with open(manifest) as fh:
                total = json.load(fh)
        done = [m for m in messages if m.tmp_name]
        for i, m in enumerate(done):
            final = f"part-{i:05d}-{self.job}.{self.ext}"
            os.rename(
                os.path.join(self.path, m.tmp_name), os.path.join(self.path, final)
            )
        total["n_files"] += len(done)
        total["n_rows"] += sum(m.n_rows for m in done)
        with open(manifest, "w") as fh:
            json.dump(total, fh)

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and m.tmp_name:
                try:
                    os.remove(os.path.join(self.path, m.tmp_name))
                except FileNotFoundError:
                    pass


class JsonlDirWriter(DirWriter):
    ext = "jsonl"

    def encode(self, rows, fh) -> int:
        n = 0
        for row in rows:
            fh.write((json.dumps(row.asDict(), default=str) + "\n").encode())
            n += 1
        return n


class JsonlDirDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonl_dir"

    def writer(self, schema, overwrite: bool) -> JsonlDirWriter:
        return JsonlDirWriter(self.options, overwrite)


def register(spark) -> None:
    spark.dataSource.register(JsonlDirDataSource)
