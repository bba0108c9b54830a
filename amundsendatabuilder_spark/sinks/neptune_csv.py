"""Neptune Gremlin bulk-load CSV writer (reference:
loader/file_system_neptune_csv_loader.py + serializers/neptune_serializer.py).

Reference semantics reproduced:
- vertex rows: ``~id`` = '{label}:{key}', ``~label``, ``key:String(single)``
  plus typed property headers via ``_get_neptune_type_for_value``
  (serializer :155 — here a schema-driven registry, same outcome);
- edge rows: ``~id`` (forward/reverse ids), ``~from``/``~to`` composite
  ids, one row per direction (the bidirectional pair is materialized at
  serialize time for Neptune, unlike Neo4j where the publisher's Cypher
  does it);
- job provenance columns creation_type/last_extracted_datetime
  (serializer :23-41).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amundsendatabuilder_spark.models.base import GraphOutput
from amundsendatabuilder_spark.sinks.graph_csv import UNQUOTED_PROPS

_NEPTUNE_TYPES = {"int": "Long(single)", "bool": "Bool(single)"}


def _prop_columns(df: DataFrame) -> list[str]:
    """Distinct property names present in the props map (driver-side — the
    set of property names is tiny and bounded by the model schemas)."""
    rows = (df.select(F.explode(F.map_keys("props")).alias("k"))
            .distinct().collect())
    return sorted(r[0] for r in rows)


def _typed_header(prop: str) -> str:
    kind = UNQUOTED_PROPS.get(prop)
    return f"{prop}:{_NEPTUNE_TYPES.get(kind, 'String(single)')}"


def write_neptune_csv(out: GraphOutput, out_dir: str,
                      extracted_at: str = "1970-01-01T00:00:00") -> dict[str, str]:
    """Write vertex + edge bulk-loader CSVs; returns the two paths."""
    node_props = _prop_columns(out.nodes)
    vertices = out.nodes.select(
        F.format_string("%s:%s", "LABEL", "KEY").alias("~id"),
        F.col("LABEL").alias("~label"),
        F.col("KEY").alias("key:String(single)"),
        F.lit("job").alias("creation_type:String(single)"),
        F.lit(extracted_at).alias("last_extracted_datetime:Date(single)"),
        *[F.col("props")[p].alias(_typed_header(p)) for p in node_props],
    ).orderBy("~id")
    vpath = os.path.join(out_dir, "vertices")
    vertices.coalesce(1).write.mode("overwrite").option("header", True).csv(vpath)

    rel_props = _prop_columns(out.rels)
    start_id = F.format_string("%s:%s", "START_LABEL", "START_KEY")
    end_id = F.format_string("%s:%s", "END_LABEL", "END_KEY")
    # Relationship creation_type header is bare 'String' (not '(single)') —
    # neptune_serializer.py:38-40 vs the node form :34-36.
    common = [F.lit("job").alias("creation_type:String"),
              F.lit(extracted_at).alias("last_extracted_datetime:Date(single)")] + \
             [F.col("props")[p].alias(_typed_header(p)) for p in rel_props]
    # Edge ~id leads with the relationship label:
    # '{label}:{from_label}:{from_id}_{to_label}:{to_id}'
    # (neptune_serializer.get_forward/reverse_relationship_id :99-119) so
    # bulk loads dedupe on the same edge identity as reference output.
    # Every relationship row also carries key:String(single) = its own
    # relation id, matching the vertex key property
    # (neptune_serializer.py:65,76).
    fwd_id = F.format_string("%s:%s_%s", F.col("TYPE"), start_id, end_id)
    rev_id = F.format_string("%s:%s_%s", F.col("REVERSE_TYPE"), end_id, start_id)
    fwd = out.rels.select(
        fwd_id.alias("~id"), F.col("TYPE").alias("~label"),
        start_id.alias("~from"), end_id.alias("~to"),
        fwd_id.alias("key:String(single)"), *common)
    rev = out.rels.select(
        rev_id.alias("~id"), F.col("REVERSE_TYPE").alias("~label"),
        end_id.alias("~from"), start_id.alias("~to"),
        rev_id.alias("key:String(single)"), *common)
    edges = fwd.unionByName(rev).orderBy("~id")
    epath = os.path.join(out_dir, "edges")
    edges.coalesce(1).write.mode("overwrite").option("header", True).csv(epath)
    return {"vertices": vpath, "edges": epath}


# In-progress statuses the reference polls through
# (publisher/neptune_csv_publisher.py:111-116).
_IN_PROGRESS = ("LOAD_NOT_STARTED", "LOAD_IN_PROGRESS", "LOAD_IN_QUEUE")


def publish_bulk(staged_dir: str, base_s3_data_path: str,
                 datetime_portion: str, client,
                 fail_on_error: bool = False,
                 status_polling_period: float = 5,
                 sleep=None) -> dict:
    """Neptune bulk-load orchestration (reference
    publisher/neptune_csv_publisher.py:89-143,156-172):

    1. no-op when the staged directory holds no CSVs (_is_upload_required
       :156-158);
    2. upload every staged CSV to ``{base}/{datetime_portion}/{name}``
       (upload_files :160-172 — the timestamped folder per publish run,
       :93-97, is passed in rather than read from the clock so runs are
       reproducible);
    3. kick the bulk loader (client.load) and require
       ``payload.loadId`` in the response (:101-109);
    4. poll client.load_status every ``status_polling_period`` seconds
       while the status is queued/in-progress, accumulating error-log
       entries (:111-117, _poll_status :131-143).

    ``client`` is the injected bulk-loader API (production:
    NeptuneBulkLoaderApi over boto3+wss): ``upload(f, s3_object_key)``,
    ``load(s3_object_key, failOnError) -> dict``,
    ``load_status(load_id, errors) -> dict``. Returns
    {loaded, load_id, status, errors}.
    """
    import time as _time
    sleep = sleep or _time.sleep
    file_paths = sorted(
        os.path.join(root, fn)
        for root, _dirs, files in os.walk(staged_dir)
        for fn in files if fn.endswith(".csv"))
    if not file_paths:
        return {"loaded": False, "load_id": None, "status": None, "errors": []}

    s3_folder_location = f"{base_s3_data_path}/{datetime_portion}"
    for file_location in file_paths:
        with open(file_location, "rb") as file_csv:
            client.upload(
                f=file_csv,
                s3_object_key=f"{s3_folder_location}/{os.path.basename(file_location)}")

    response = client.load(s3_object_key=s3_folder_location,
                           failOnError=fail_on_error)
    try:
        load_id = response["payload"]["loadId"]
    except KeyError:
        raise RuntimeError(f"Failed to load csv. Response: {response}")

    load_status = "LOAD_NOT_STARTED"
    all_errors: list = []
    while load_status in _IN_PROGRESS:
        sleep(status_polling_period)
        status_payload = client.load_status(load_id=load_id, errors=True) \
            .get("payload", {})
        try:
            load_status = status_payload["overallStatus"]["status"]
        except KeyError:
            raise RuntimeError(
                f"Failed to check status of {load_id} response: {status_payload!r}")
        all_errors.extend(status_payload.get("errors", {}).get("errorLogs", []))
    return {"loaded": True, "load_id": load_id, "status": load_status,
            "errors": all_errors}
