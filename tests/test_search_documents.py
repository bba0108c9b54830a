"""Flagship search-document plan tests against the catalog fixtures —
field-level parity with models/table_elasticsearch_document.py:14-49."""

import os

from tests.conftest import FIXTURES


def _csv(spark, name):
    from amundsendatabuilder_spark.sources.csv_source import read_csv
    return read_csv(spark, os.path.join(FIXTURES, name))


def test_table_documents(spark, tables_df):
    from amundsendatabuilder_spark.plans.search_documents import build_table_documents
    docs = build_table_documents(
        tables_df,
        usage=_csv(spark, "sample_column_usage.csv"),
        last_updated=_csv(spark, "sample_table_last_updated.csv"),
        schema_descriptions=_csv(spark, "sample_schema_description.csv"),
        badges=_csv(spark, "sample_badges.csv"),
    )
    rows = {r["key"]: r for r in docs.collect()}
    t1 = rows["hive://gold.test_schema/test_table1"]
    assert t1["display_name"] == "test_schema.test_table1"
    # deterministic spine winner: the default-description row beats the
    # programmatic (s3_crawler) duplicate — description and tags must come
    # from the default row every run (reference always takes the default
    # Description node; ADVICE r1 medium finding)
    assert t1["description"] == "1st test table"
    assert sorted(t1["tags"]) == ["tag1", "tag2"]
    assert t1["column_names"] == ["col1", "col2"]
    assert t1["column_descriptions"] == ["col1 description"]
    assert t1["total_usage"] == 15
    assert t1["unique_usage"] == 2
    assert t1["last_updated_timestamp"] == 1600000000
    assert t1["schema_description"] == "test schema description"
    assert sorted(t1["badges"]) == ["beta", "deprecated"]
    assert t1["programmatic_descriptions"] == ["1st test table programmatic"]
    t2 = rows["dynamo://gold.test_schema/test_table2"]
    assert t2["total_usage"] == 7 and t2["unique_usage"] == 1
    assert t2["badges"] == [] and t2["schema_description"] is None


def test_user_documents(spark):
    from amundsendatabuilder_spark.plans.search_documents import build_user_documents
    # total_own = COUNT(DISTINCT owned table), total_follow =
    # COUNT(DISTINCT followed entity) — reference count(distinct b)/(c)
    # (neo4j_search_data_extractor.py:80-82)
    owned = spark.createDataFrame(
        [("alice@example.com", "hive://gold.s/t1"),
         ("alice@example.com", "hive://gold.s/t1"),   # duplicate relation
         ("Alice@Example.com ", "hive://gold.s/t2"),  # case/space-normalized
         ("bob@example.com", "hive://gold.s/t1")],
        "email string, table_key string")
    followed = spark.createDataFrame(
        [("alice@example.com", "hive://gold.s/t3"),
         ("carol@example.com", "hive://gold.s/t1"),
         ("carol@example.com", "hive://gold.s/t2")],
        "email string, entity_key string")
    docs = build_user_documents(
        _csv(spark, "sample_user.csv"),
        table_usage=_csv(spark, "sample_column_usage.csv"),
        owned_tables=owned, followed=followed)
    rows = {r["email"]: r for r in docs.collect()}
    assert rows["alice@example.com"]["total_read"] == 17
    assert rows["bob@example.com"]["total_read"] == 5
    assert rows["carol@example.com"]["total_read"] == 0
    assert rows["alice@example.com"]["total_own"] == 2
    assert rows["bob@example.com"]["total_own"] == 1
    assert rows["carol@example.com"]["total_own"] == 0
    assert rows["alice@example.com"]["total_follow"] == 1
    assert rows["carol@example.com"]["total_follow"] == 2
    assert rows["bob@example.com"]["total_follow"] == 0


def test_dashboard_documents(spark):
    from amundsendatabuilder_spark.plans.search_documents import build_dashboard_documents
    keyparts = ("product string, cluster string, dashboard_group_id string, "
                "dashboard_id string, ")
    charts = spark.createDataFrame(
        [("mode", "gold", "grp1", "d1", "Revenue"),
         ("mode", "gold", "grp1", "d1", "Orders"),
         ("mode", "gold", "grp1", "d1", "Revenue")],  # distinct-collected
        keyparts + "chart_name string")
    tags = spark.createDataFrame(
        [("mode", "gold", "grp1", "d1", "finance", "default"),
         ("mode", "gold", "grp1", "d1", "hidden", "badge")],  # filtered out
        keyparts + "tag string, tag_type string")
    badges = spark.createDataFrame(
        [("mode", "gold", "grp1", "d2", "golden")],
        keyparts + "badge string")
    docs = build_dashboard_documents(
        _csv(spark, "sample_dashboard_base.csv"),
        last_exec=_csv(spark, "sample_dashboard_last_execution.csv"),
        charts=charts, tags=tags, badges=badges)
    rows = {r["key"]: r for r in docs.collect()}
    d1 = rows["mode_dashboard://gold.grp1/d1"]
    # picks _last_successful_execution, not _last_execution (reference
    # mysql_search_data_extractor.py:284-286)
    assert d1["last_successful_run_timestamp"] == 1600000500
    assert rows["mode_dashboard://gold.grp1/d2"]["last_successful_run_timestamp"] is None
    # reference field parity (models/dashboard_elasticsearch_document.py:16-47)
    assert d1["uri"] == "mode_dashboard://gold.grp1/d1"
    assert d1["group_description"] == "group a desc"
    assert d1["chart_names"] == ["Orders", "Revenue"]
    assert d1["tags"] == ["finance"]  # tag_type='default' only
    assert d1["badges"] == []
    d2 = rows["mode_dashboard://gold.grp1/d2"]
    assert d2["chart_names"] == [] and d2["tags"] == []
    assert d2["badges"] == ["golden"]


_COLS_T = ("array<struct<name:string,description:string,col_type:string,"
           "sort_order:int,badges:array<string>>>")
_C1 = [("c1", "first", "int", 1, []), ("c2", None, "int", 2, [])]
_TABLES = [
    # t1: a default row, a programmatic row, a NULL-description row, an
    # older generation's row that would win, and an exact tie on the
    # order fields (same default description, other tags)
    ("db", "gold", "s", "t1", "d1", ["b"], None, "new", _C1),
    ("db", "gold", "s", "t1", "p1", ["p"], "s3_crawler", "new", None),
    ("db", "gold", "s", "t1", None, None, None, "new", _C1),
    ("db", "gold", "s", "t1", "a0", ["z"], "", "old", []),
    ("db", "gold", "s", "t1", "d1", ["a"], "description", "new", _C1),
    # t2: programmatic rows only
    ("db", "gold", "s", "t2", "p3", [], "glue", "new", None),
    ("db", "gold", "s", "t2", "p2", ["x"], "s3_crawler", "new", None),
    # t3: no relations at all; t4: an older generation only
    ("db", "gold", "s2", "t3", None, None, None, "new", None),
    ("db", "gold", "s", "t4", "d4", ["y"], None, "old", _C1),
]
_USAGE = [("db", "gold", "s", "t1", "alice", 3), ("db", "gold", "s", "t1", "bob", None),
          ("db", "gold", "s", "t1", None, 4), ("db", "gold", "s", "t1", "alice", 1),
          ("db", "gold", "s", "t2", None, None),
          ("db", "gold", "s", "orphan", "carol", 9)]
_LAST_UPDATED = [("db", "gold", "s", "t1", 10), ("db", "gold", "s", "t1", 30),
                 ("db", "gold", "s", "t2", None), ("db", "gold", "s", "orphan", 99)]
_BADGES = [("db", "gold", "s", "t1", "Beta, deprecated"),
           ("db", "gold", "s", "t1", "beta"), ("db", "gold", "s", "t2", " , "),
           ("db", "gold", "s", "orphan", "gold")]
_SCHEMA_DESC = [("db://gold.s", "s", "schema s")]

# the table-document schema for these inputs, nullability included: a
# plan rewrite must not change it
_DOC_FIELDS = (
    [(c, "string", True) for c in ("database", "cluster", "schema", "name")]
    + [("key", "string", False), ("display_name", "string", False),
       ("description", "string", True), ("schema_description", "string", True),
       ("last_updated_timestamp", "bigint", True)]
    + [(c, "array<string>", False) for c in ("column_names", "column_descriptions")]
    + [(c, "bigint", False) for c in ("total_usage", "unique_usage")]
    + [(c, "array<string>", False)
       for c in ("tags", "badges", "programmatic_descriptions")])


def _nulls_first(v):
    return (v is not None, v)


def _twin_table_documents(publish_tag):
    """Plain-Python table documents: the min over (programmatic?,
    description missing?, description, payload) picks each key's spine
    row; every relation is folded per key; keys without a spine row get
    no document."""
    spine = {}
    for db, cl, sch, name, desc, tags, src, gen, cols in _TABLES:
        if publish_tag is not None and gen != publish_tag:
            continue
        default = src in (None, "", "description")
        row = dict(database=db, cluster=cl, schema=sch, name=name,
                   description=desc if default else None,
                   tags=tags or [], column_names=[c[0] for c in cols or []],
                   column_descriptions=[c[1] for c in cols or [] if c[1] is not None],
                   prog=None if default else desc)
        order = (row["prog"] is not None, row["description"] is None,
                 *map(_nulls_first, (row["description"], db, cl, sch, name, tags,
                                     row["column_names"], row["column_descriptions"])))
        spine.setdefault(f"{db}://{cl}.{sch}/{name}", []).append((order, row))
    docs = {}
    for key, cands in spine.items():
        w = min(cands, key=lambda c: c[0])[1]
        reads = [u for u in _USAGE if f"{u[0]}://{u[1]}.{u[2]}/{u[3]}" == key]
        stamps = [lu[4] for lu in _LAST_UPDATED
                  if f"{lu[0]}://{lu[1]}.{lu[2]}/{lu[3]}" == key and lu[4] is not None]
        badges = {b.strip().lower() for bd in _BADGES
                  if f"{bd[0]}://{bd[1]}.{bd[2]}/{bd[3]}" == key
                  for b in bd[4].split(",")} - {""}
        docs[key] = dict(
            database=w["database"], cluster=w["cluster"], schema=w["schema"],
            name=w["name"], key=key, display_name=f"{w['schema']}.{w['name']}",
            description=w["description"],
            schema_description=dict((k, d) for k, _, d in _SCHEMA_DESC).get(
                f"{w['database']}://{w['cluster']}.{w['schema']}"),
            last_updated_timestamp=max(stamps, default=None),
            column_names=w["column_names"],
            column_descriptions=w["column_descriptions"],
            total_usage=sum(u[5] for u in reads if u[5] is not None),
            unique_usage=len({u[4] for u in reads if u[4] is not None}),
            tags=w["tags"], badges=sorted(badges),
            programmatic_descriptions=sorted(r["prog"] for _, r in cands
                                             if r["prog"] is not None))
    return docs


def test_table_documents_fold_matches_twin(spark):
    """The one keyed aggregation against a plain-Python twin: duplicate
    spine rows (default, programmatic, NULL description, exact tie),
    relation rows without a table, NULL read counts and emails, an
    all-blank badge string, a table with no relations and the
    publish-tag filter; the schema is the pinned document schema."""
    from pyspark.sql.types import StructType

    from amundsendatabuilder_spark.plans.search_documents import build_table_documents
    parts = "database string, cluster string, schema string, table_name string, "
    tables = spark.createDataFrame(
        _TABLES, "database string, cluster string, schema string, name string, "
        "description string, tags array<string>, description_source string, "
        f"published_tag string, columns {_COLS_T}")
    rels = dict(
        usage=spark.createDataFrame(_USAGE, parts + "user_email string, read_count int"),
        last_updated=spark.createDataFrame(
            _LAST_UPDATED, "db string, cluster string, schema string, "
            "table_name string, last_updated_time_epoch long"),
        badges=spark.createDataFrame(_BADGES, parts + "name string"),
        schema_descriptions=spark.createDataFrame(
            _SCHEMA_DESC, "schema_key string, schema string, description string"))
    expected_schema = StructType.fromJson({"type": "struct", "fields": [
        {"name": n, "nullable": nullable, "metadata": {},
         "type": ({"type": "array", "elementType": "string", "containsNull": True}
                  if t == "array<string>" else {"bigint": "long"}.get(t, t))}
        for n, t, nullable in _DOC_FIELDS]})
    for publish_tag in (None, "new"):
        docs = build_table_documents(tables, publish_tag=publish_tag, **rels)
        assert docs.schema == expected_schema
        got = [r.asDict(recursive=True) for r in docs.collect()]
        twin = _twin_table_documents(publish_tag)
        assert {d["key"]: d for d in got} == twin
        assert [d["name"] for d in got] == sorted(d["name"] for d in twin.values())
    t1 = twin["db://gold.s/t1"]
    assert (t1["description"], t1["tags"]) == ("d1", ["a"])
    assert t1["programmatic_descriptions"] == ["p1"]
    assert (t1["total_usage"], t1["unique_usage"]) == (8, 2)
    assert t1["badges"] == ["beta", "deprecated"]
    t2 = twin["db://gold.s/t2"]
    assert t2["description"] is None and t2["badges"] == []
    assert t2["programmatic_descriptions"] == ["p2", "p3"]
    t3 = twin["db://gold.s2/t3"]
    assert (t3["total_usage"], t3["unique_usage"], t3["badges"],
            t3["last_updated_timestamp"]) == (0, 0, [], None)
    assert "db://gold.s/orphan" not in twin and "db://gold.s/t4" not in twin
