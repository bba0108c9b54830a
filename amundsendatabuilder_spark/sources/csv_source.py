"""CSV sources — the reference's CsvExtractor family
(databuilder/extractor/csv_extractor.py):

- ``read_csv``: schema-on-read CSV -> DataFrame (CsvExtractor:27-77).
- ``read_tables_with_columns``: the CsvTableColumnExtractor join
  (:161-258 — builds a dict keyed by the composed table key and attaches
  the column list) as a broadcast hash join + groupBy/collect_list nest.
- ``read_table_badges``: CsvTableBadgeExtractor (:80-158) — same join
  pattern, badge string split.
- ``read_lineage``: CsvTable/ColumnLineageExtractor (:261-362) — direct
  edge DataFrames.

All return the documented model input schemas of models/*.py. Every
reader shares one header/quote/escape/multiLine CSV reader (``_reader``).
``read_tables_with_columns`` reads its two model files as text, every field
a string as the reference's ``csv.DictReader`` gives it, and types only
``sort_order`` and ``is_view`` itself; Spark's two-job ``inferSchema`` pass
runs only for ``read_csv`` without a schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F

from amundsendatabuilder_spark.functions.scalars import normalize_tags


def _reader(spark: SparkSession) -> DataFrameReader:
    """A CSV reader with a header row, ``"``-quoted and -escaped fields
    that may span lines; with no schema or ``inferSchema`` every field
    reads as a string."""
    return (spark.read.option("header", True).option("quote", '"')
            .option("escape", '"').option("multiLine", True))


def read_csv(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """Schema-on-read CSV (header row). Explicit schema recommended for
    determinism (SURVEY §1.3); inferSchema only when schema is None."""
    reader = _reader(spark)
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_csv_with_quarantine(spark: SparkSession, path: str,
                             schema: str) -> "tuple[DataFrame, DataFrame]":
    """Production CSV ingestion with a bad-record side channel: rows
    that fail the explicit schema land in a quarantine DataFrame
    (raw line + file) instead of silently becoming NULLs (PERMISSIVE
    default) or killing the job (FAILFAST). Returns (good, quarantined).

    Mechanics: PERMISSIVE parse with a ``_corrupt_record`` rescue
    column — Spark populates it with the raw line whenever any field
    fails the schema; the split is two filters over ONE scan, and the
    quarantine side carries ``input_file_name`` so a 100 TB load can
    route bad shards back to their producer. The reference's CsvExtractor
    has no bad-row story (csv DictReader raises mid-iteration); this is
    the operational upgrade a lake-scale load needs."""
    full = schema.rstrip() + ", _corrupt_record string"
    df = (_reader(spark).option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .schema(full).csv(path)
          # input_file_name() must bind at the scan — after the cache
          # boundary rows come from the in-memory relation and it
          # returns ''; the cache itself is Spark's documented
          # requirement before filtering on _corrupt_record
          .withColumn("_source_file", F.input_file_name())
          .cache())
    good = df.where(F.col("_corrupt_record").isNull()) \
        .drop("_corrupt_record", "_source_file")
    bad = (df.where(F.col("_corrupt_record").isNotNull())
           .select(F.col("_corrupt_record").alias("raw_line"),
                   F.col("_source_file").alias("source_file")))
    return good, bad


def read_tables_with_columns(spark: SparkSession, table_csv: str,
                             column_csv: str) -> DataFrame:
    """tables ⟕ nested-columns on the composed table key — the Spark shape
    of CsvTableColumnExtractor._get_key_to_columns/extract
    (reference: extractor/csv_extractor.py:192-243,244-258).

    The columns side is pre-aggregated (groupBy key -> sorted struct list)
    then joined; at catalog scale the aggregate side is small, so Catalyst
    broadcasts it — zero shuffles on the table spine.

    Both files read as text, without a schema-inference pass: identifiers
    such as schema ``007`` keep their digits, and ``sort_order`` and
    ``is_view`` are the only fields typed here.
    """
    tables = _reader(spark).csv(table_csv).withColumn(
        "tags", normalize_tags(F.col("tags"))).withColumn(
        "is_view",
        F.when(F.lower("is_view").isin("", "false")
               | F.col("is_view").isNull(), F.lit(False)).otherwise(F.lit(True)))
    cols = _reader(spark).csv(column_csv)
    badges_col = (F.expr("filter(transform(split(badges, ','), b -> lower(trim(b))), b -> b != '')")
                  if "badges" in cols.columns
                  else F.array().cast("array<string>"))
    nested = (
        cols.groupBy("database", "cluster", "schema", "table_name")
        .agg(F.sort_array(F.collect_list(F.struct(
            F.col("sort_order").cast("int").alias("sort_order"),
            F.col("name").alias("name"),
            F.col("description").alias("description"),
            F.col("col_type").alias("col_type"),
            badges_col.alias("badges")))).alias("_sorted"))
        .select("database", "cluster", "schema",
                F.col("table_name"),
                F.transform("_sorted", lambda s: F.struct(
                    s["name"].alias("name"),
                    s["description"].alias("description"),
                    s["col_type"].alias("col_type"),
                    s["sort_order"].alias("sort_order"),
                    s["badges"].alias("badges"))).alias("columns"))
    )
    return tables.join(
        F.broadcast(nested),
        (tables["database"] == nested["database"])
        & (tables["cluster"] == nested["cluster"])
        & (tables["schema"] == nested["schema"])
        & (tables["name"] == nested["table_name"]),
        "left",
    ).select(tables["*"], nested["columns"])


def read_table_badges(spark: SparkSession, badge_csv: str) -> DataFrame:
    """BadgeMetadata input rows (reference: extractor/csv_extractor.py:80-158)."""
    return read_csv(spark, badge_csv)


def read_lineage(spark: SparkSession, lineage_csv: str) -> DataFrame:
    """Table/column lineage edge rows (reference:
    extractor/csv_extractor.py:261-362)."""
    return read_csv(spark, lineage_csv)


def from_records(spark: SparkSession, records: list[dict],
                 schema: str | None = None) -> DataFrame:
    """GenericExtractor (reference: extractor/generic_extractor.py:12-52):
    literal record list -> DataFrame."""
    if schema:
        return spark.createDataFrame(records, schema)  # type: ignore[arg-type]
    return spark.createDataFrame(records)  # type: ignore[arg-type]
