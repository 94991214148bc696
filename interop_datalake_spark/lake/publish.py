"""Partitioned lake sinks — the reference's publish surface on Spark.

Reference parity:
- R1/R2 ``publishFHIRR4`` (``DatalakePublishService.kt:50-90``):
  empty-input no-op (:56-59), ingest-date stamp (:60), id-presence
  filter (:61), partitioned fan-out write (:66-76), raise-after-write
  when ids were missing (:83-88).
- R3 ``publishBinaryData`` (:100-120): keyed sink, no date partition.
- R7 ``publishRawData`` (:169-196): single-record sink, returns full URL.
- R4 ``runInPool`` (:126-146): the reference's bounded thread pool is
  Spark's task parallelism — ``repartition`` before write controls
  file count, the cluster scheduler controls concurrency.

Semantics deliberately improved (documented, SURVEY §7): the reference
performs N independent PUTs and raises afterwards, leaving partial
batches on failure (``DatalakePublishService.kt:79-88``). Here a batch
commits through the lake's ACID table format (``lake/txn.py``): the
distributed write lands in an invisible per-commit subdir and ONE
atomic manifest commit publishes it — a crash anywhere leaves the
previous snapshot intact, and readers never see a partial batch. The
*validation* behavior is kept identical: publishing resources that
lack ids raises AFTER the valid subset is durably committed.
``session.acid=False`` falls back to plain Hive-layout writes (the
FileOutputCommitter path) for non-transactional deployments.

Scale design: tables are partitioned ``(resource_type, fhir_tenant_id,
_date)`` (Binary: tenant) with per-file ``resource_id`` min/max stats
recorded in the manifest, so downstream point reads prune first by
partition directory semantics and then by file stats; the id filter
and date stamp ride the write job itself via ``Observation`` metrics —
a single pass over the input, no extra count job.
"""

from __future__ import annotations

import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from interop_datalake_spark.functions.uris import (
    datalake_full_url_str,
    raw_data_file_path,
)
from interop_datalake_spark.lake.txn import TxnTable
from interop_datalake_spark.session import DatalakeSession

FHIR_TABLE = "ehr"
BINARY_TABLE = "ehr_binary"
RAW_TABLE = "raw_data_response"

#: The session default committer is algorithm v2 (session.py), which is
#: safe for TxnTable because every ACID write lands in an invisible
#: per-commit UUID dir. The non-ACID fallback writes here append
#: straight into the LIVE directory-listed table path, where v2's task
#: commits would leave partial part-files visible after a mid-write
#: job failure. Scope v1 back onto exactly these writes (writer
#: options merge into the write job's Hadoop conf via
#: ``newHadoopConfWithOptions``): a failed non-ACID publish then
#: leaves only ignored ``_temporary`` content, as before round 14.
_NON_ACID_COMMITTER = {
    "mapreduce.fileoutputcommitter.algorithm.version": "1",
}


def _non_acid_writer(writer):
    for k, v in _NON_ACID_COMMITTER.items():
        writer = writer.option(k, v)
    return writer

#: manifest-table layouts for the reference's three publish surfaces —
#: partition columns mirror the reference's object-key templates
#: (``DatalakePublishService.kt:68-73`` fhir, ``:148-153`` binary,
#: ``:169-196`` raw); resource_id stats give point-lookup file skipping
TXN_LAYOUT = {
    FHIR_TABLE: {
        "partition_cols": ["resource_type", "fhir_tenant_id", "_date"],
        "stats_cols": ["resource_id"],
    },
    BINARY_TABLE: {
        "partition_cols": ["fhir_tenant_id"],
        "stats_cols": ["resource_id"],
    },
    RAW_TABLE: {"partition_cols": ["tenant_id"], "stats_cols": []},
}


def txn_table(session: DatalakeSession, table: str) -> TxnTable:
    """The manifest-committed handle for a lake table, with the
    publish surface's partition/stats layout when it has one."""
    layout = TXN_LAYOUT.get(table, {})
    return TxnTable(
        session,
        table,
        stats_cols=layout.get("stats_cols"),
        partition_cols=layout.get("partition_cols"),
    )


def _id_present():
    # built lazily: Column construction needs an active SparkContext
    return F.col("resource_id").isNotNull() & (F.col("resource_id") != "")


class MissingResourceIdError(ValueError):
    """Raised when a publish batch contained id-less resources — after
    the valid rows were written, mirroring ``DatalakePublishService.kt:83-88``."""


def publish_fhir_r4(
    session: DatalakeSession, tenant_id: str, resources: DataFrame
) -> int:
    """Publish a (possibly mixed-type) batch of FHIR resources.

    ``resources`` needs columns ``resource_type, resource_id,
    resource_json`` (FIXTURES.md A1). Returns the number of rows
    written. Raises :class:`MissingResourceIdError` if any row lacked
    an id — after writing the valid rows (reference ordering,
    ``DatalakePublishService.kt:79-88``).
    """
    if not resources.head(1):  # empty-input no-op (:56-59)
        return 0

    obs = Observation("publish_fhir_r4")
    stamped = (
        resources.withColumn("fhir_tenant_id", F.lit(tenant_id))
        .withColumn("resource_type", F.lower(F.col("resource_type")))
        .withColumn("_date", F.current_date())  # ingest date (:60)
        .observe(
            obs,
            F.count(F.lit(1)).alias("total"),
            F.count(F.when(_id_present(), 1)).alias("valid"),
        )
    )
    valid = stamped.filter(_id_present())
    if session.acid:
        # ACID publish: distributed write + one atomic manifest commit
        txn_table(session, FHIR_TABLE).append(valid)
    else:
        (
            _non_acid_writer(valid.write.mode("append"))
            .partitionBy("resource_type", "fhir_tenant_id", "_date")
            .format(session.format)
            .save(session.table_path(FHIR_TABLE))
        )
    metrics = obs.get
    dropped = metrics["total"] - metrics["valid"]
    if dropped:
        raise MissingResourceIdError(
            f"{dropped} resource(s) lacked FHIR IDs and were not published"
        )
    return metrics["valid"]


def publish_binary(
    session: DatalakeSession, tenant_id: str, binaries: DataFrame
) -> int:
    """Publish Binary resources keyed by (tenant, id); no date partition
    (``DatalakePublishService.kt:100-120``, path layout :148-153).

    Unlike FHIR publish, a missing id here is a hard error before any
    write — the reference dereferences ``binary.id!!`` (:107), which
    throws before its upload starts.
    """
    if not binaries.head(1):
        return 0
    if binaries.filter(~_id_present()).head(1):
        raise MissingResourceIdError("Binary resources must all carry an id")
    # the row count rides the write job (no extra count job), as in
    # publish_fhir_r4
    obs = Observation("publish_binary")
    stamped = binaries.withColumn("fhir_tenant_id", F.lit(tenant_id)).observe(
        obs, F.count(F.lit(1)).alias("rows")
    )
    if session.acid:
        txn_table(session, BINARY_TABLE).append(stamped)
    else:
        (
            _non_acid_writer(stamped.write.mode("append"))
            .partitionBy("fhir_tenant_id")
            .format(session.format)
            .save(session.table_path(BINARY_TABLE))
        )
    return obs.get["rows"]


def overwrite_tenant_partition(
    session: DatalakeSession,
    table: str,
    tenant_id: str,
    replacement: DataFrame,
    partition_cols: tuple[str, ...] = ("fhir_tenant_id",),
) -> int:
    """Replace exactly one tenant's partitions, leaving every other
    tenant untouched (Delta ``replaceWhere`` / Hive dynamic-partition
    overwrite semantics). The reference has no rewrite operation at all
    — objects are only ever PUT by full key — so this is engine-layer
    surface (SURVEY §2.B "Sinks: overwrite-partition").

    Scale note: dynamic mode only rewrites partitions present in
    ``replacement``; a 1-tenant fix-up over a 100 TB lake touches one
    partition subtree, not the table. On an ACID session the swap of
    all affected partitions is additionally ONE atomic manifest commit
    (``TxnTable.overwrite_partitions``).
    """
    stamped = replacement.withColumn("fhir_tenant_id", F.lit(tenant_id))
    if session.acid and TxnTable(session, table).current_version() > 0:
        t = txn_table(session, table)
        t.overwrite_partitions(stamped)
        return stamped.count()
    spark = session.spark
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            _non_acid_writer(stamped.write.mode("overwrite"))
            .partitionBy(*partition_cols)
            .format(session.format)
            .save(session.table_path(table))
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return stamped.count()


_RAW_SCHEMA = (
    "tenant_id STRING, transaction_id STRING, url STRING, time STRING, body STRING"
)


def _raw_frame(
    spark, tenant_id: str, txn_id: str, url: str, data: str
) -> DataFrame:
    """The one-row ``RawDataWrapper`` frame ``publish_raw_data`` commits.
    Built from pandas it is an Arrow-sized LocalRelation, so the ACID
    commit takes the driver write; a Python list would be an RDD with
    no size estimate and pay for the distributed writer."""
    import pandas as pd

    now_iso = datetime.now(timezone.utc).replace(tzinfo=None).isoformat()
    row = {
        "tenant_id": tenant_id,
        "transaction_id": txn_id,
        "url": url,
        "time": now_iso,
        "body": data,
    }
    return spark.createDataFrame(pd.DataFrame([row]), _RAW_SCHEMA)


def publish_raw_data(
    session: DatalakeSession, tenant_id: str, data: str, url: str
) -> str | None:
    """Single-record raw-response sink; returns the object's full URL
    (``DatalakePublishService.kt:169-196``).

    Wraps ``(url, now-as-ISO-string, body)`` exactly like
    ``RawDataWrapper`` (:198) — the timestamp is stored as an ISO-8601
    *string* for reference fidelity — under a fresh transaction UUID
    (:174). The URL is formatted from the values in hand, so no Spark
    job reads the row back; a NULL tenant gives None, as ``concat``
    does.
    """
    txn_id = str(uuid.uuid4())
    row_df = _raw_frame(session.spark, tenant_id, txn_id, url, data)
    if session.acid:
        txn_table(session, RAW_TABLE).append(row_df)
    else:
        (
            _non_acid_writer(row_df.write.mode("append"))
            .partitionBy("tenant_id")
            .format(session.format)
            .save(session.table_path(RAW_TABLE))
        )
    return datalake_full_url_str(raw_data_file_path(tenant_id, txn_id))
