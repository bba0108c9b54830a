"""CSV source tests — the CsvTableColumnExtractor join semantics
(reference: tests/unit/extractor/test_csv_extractor.py is the model)."""

from pyspark.sql import functions as F


def test_tables_nest_columns(tables_df):
    rows = {(r["database"], r["name"], r["description_source"]): r
            for r in tables_df.collect()}
    t1 = rows[("hive", "test_table1", None)]
    assert [c["name"] for c in t1["columns"]] == ["col1", "col2"]
    assert t1["columns"][0]["description"] == "col1 description"
    assert t1["columns"][1]["col_type"] == "bigint"
    assert t1["columns"][1]["badges"] == ["pk", "partition column"]
    assert t1["tags"] == ["tag1", "tag2"]
    assert t1["is_view"] is False


def test_table_without_columns_survives_left_join(spark, tables_df):
    # programmatic-description row has same key; join is left so all 3
    # source rows survive
    assert tables_df.count() == 3


def test_generic_records(spark):
    from amundsendatabuilder_spark.sources.csv_source import from_records
    df = from_records(spark, [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}])
    assert df.count() == 2
    assert set(df.columns) == {"a", "b"}


def test_read_csv_with_quarantine_splits_bad_rows(spark, tmp_path):
    from amundsendatabuilder_spark.sources.csv_source import (
        read_csv_with_quarantine)
    p = tmp_path / "in.csv"
    p.write_text("id,n\n1,10\n2,notanint\n3,30\n")
    good, bad = read_csv_with_quarantine(spark, str(p), "id int, n int")
    assert sorted((r.id, r.n) for r in good.collect()) == [(1, 10), (3, 30)]
    brows = bad.collect()
    assert len(brows) == 1
    assert brows[0].raw_line == "2,notanint"
    assert brows[0].source_file.endswith("in.csv")


def test_read_csv_with_quarantine_clean_file_empty_side_channel(
        spark, tmp_path):
    from amundsendatabuilder_spark.sources.csv_source import (
        read_csv_with_quarantine)
    p = tmp_path / "clean.csv"
    p.write_text("id,n\n1,10\n2,20\n")
    good, bad = read_csv_with_quarantine(spark, str(p), "id int, n int")
    assert good.count() == 2 and bad.count() == 0


def test_model_files_read_as_text(spark, tmp_path):
    """The table and column files read as text, with no schema-inference
    pass: numeric-looking identifiers keep their digits, the column join
    still matches them, and the keys carry them as written."""
    from amundsendatabuilder_spark.models.table_metadata import expand_tables
    from amundsendatabuilder_spark.session import jobs_started_by
    from amundsendatabuilder_spark.sources.csv_source import (
        read_tables_with_columns)
    table_csv, column_csv = tmp_path / "table.csv", tmp_path / "col.csv"
    table_csv.write_text(
        "database,cluster,schema,name,description,tags,is_view,"
        "description_source\nhive,gold,007,2024,numbered,,FALSE,\n")
    column_csv.write_text(
        "name,description,col_type,sort_order,database,cluster,schema,"
        "table_name,badges\n01,,int,1,hive,gold,007,2024,\n")
    tables, jobs = jobs_started_by(spark, lambda: read_tables_with_columns(
        spark, str(table_csv), str(column_csv)))
    assert len(jobs) == 2  # one header read per file
    [row] = tables.collect()
    assert (row["schema"], row["name"], row["is_view"]) == ("007", "2024",
                                                            False)
    assert [(c["name"], c["sort_order"]) for c in row["columns"]] == [
        ("01", 1)]
    keys = {r["KEY"] for r in expand_tables(tables).nodes
            .where(F.col("LABEL").isin("Table", "Column")).collect()}
    assert keys == {"hive://gold.007/2024", "hive://gold.007/2024/01"}
