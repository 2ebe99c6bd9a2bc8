"""Binary-file source: Spark's built-in `binaryFile` format — the
ingestion path for opaque multimodal payloads (images, audio, video
frames) before the llm/multimodal.py plumbing takes over.

At 100 TB this is how raw media lands in the engine: one row per
object with (path, modificationTime, length, content BINARY), file
listing parallelized by the driver, content read lazily per task —
no shuffle at all (a pure scan). `pathGlobFilter` / recursive lookup
prune at the listing, and `spark.sql.files.maxPartitionBytes` governs
task granularity exactly as for parquet.

Here the fixture directory's own parquet files stand in as "opaque
binaries": the query proves the plumbing (schema, lazy content read,
deterministic projection) by fingerprinting each file's magic bytes.

Contract-oracle conversion (round 9, closing the registry's last
rows-only ids): the driver fixtures are plain one-file-per-table
parquet with catalog-deterministic names, so the LISTING and MAGIC
are exact SQL values (a VALUES table of the ten catalog names +
PAR1), and the census row counts equal the table's COUNT(*). File
byte sizes stay engine-side (not derivable from table contents) and
are reduced to a ≥-footer-size flag. The raw (path, length, magic)
projection stays available as scan_binaryfile_frame for scaled /
multi-part directories, where part-file names are nondeterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import TABLE_NAMES, load_table

# minimum plausible parquet file: PAR1 + footer length + PAR1
_MIN_PARQUET_BYTES = 12

_ORACLE_SCAN_BINARYFILE = (
    "SELECT * FROM (VALUES "
    + ", ".join(f"('{t}.parquet', '50415231', 1)" for t in sorted(TABLE_NAMES))
    + ") AS v(file_name, magic_hex, plausible_size) ORDER BY file_name"
)


def scan_binaryfile_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw listing: one row per file with name, byte size, and the hex
    magic of the first 4 bytes (PAR1 for every fixture)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("length").cast("long").alias("n_bytes"),
            F.upper(F.hex(F.substring("content", 1, 4))).alias("magic_hex"),
        )
    )


@query("q_scan_binaryfile", oracle=_ORACLE_SCAN_BINARYFILE)
def scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract form over scan_binaryfile_frame: the listing must be
    exactly the ten catalog files, each carrying the parquet magic and
    a plausible (≥ header+footer) byte size."""
    return (
        scan_binaryfile_frame(spark, sf_dir)
        .select(
            "file_name",
            "magic_hex",
            (F.col("n_bytes") >= _MIN_PARQUET_BYTES)
            .cast("int")
            .alias("plausible_size"),
        )
        .orderBy("file_name")
    )


# The census's file identity is catalog-deterministic on the driver
# fixtures (one plain file per table), so the oracle is the exact
# per-file row count — COUNT(*) of the table itself. HAVING makes the
# oracle row-conditional (ADVICE r9): a zero-row lineitem scan yields
# zero groups on the Spark side, so the oracle must emit zero rows
# too, not a literal ('lineitem.parquet', 0).
_ORACLE_FILE_CENSUS = """
SELECT 'lineitem.parquet' AS file_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
HAVING COUNT(*) > 0
ORDER BY file_name
"""


@query("q_file_census", oracle=_ORACLE_FILE_CENSUS)
def file_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout census: rows per physical input file via
    input_file_name() — the small-file / skewed-file detector every
    lakehouse compaction job starts from. The file identity flows
    through the scan for free (no shuffle beyond the per-file rollup);
    at 100 TB this is the report that decides OPTIMIZE/bin-packing."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .select(F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file_name"))
        .groupBy("file_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .orderBy("file_name")
    )
