"""Publish surfaces on the bounded-commit path: each publish costs one
Spark job, the raw-data frame is sized so its commit takes the driver
write, the driver and distributed writes leave the same raw table, and
the plain-string URL twin equals its Column builder."""

import os
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from interop_datalake_spark.functions.uris import (
    datalake_full_url,
    datalake_full_url_str,
)
from interop_datalake_spark.lake.publish import (
    RAW_TABLE,
    _raw_frame,
    publish_binary,
    publish_fhir_r4,
    publish_raw_data,
    txn_table,
)
from interop_datalake_spark.lake.retrieve import read_lake_table
from interop_datalake_spark.lake.txn import (
    _DRIVER_COMMIT_MAX_BYTES_DEFAULT,
    TxnTable,
    _plan_size_estimate,
)
from interop_datalake_spark.session import DatalakeSession

_KEY = "spark.interop.datalake.driverCommit.maxBytes"
_URL = re.compile(
    r"^https://objectstorage\.us-phoenix-1\.oraclecloud\.com/n/namespace/b/"
    r"datalake/o/raw_data_response/tenant_id=(?P<t>.*)/transaction_id/"
    r"(?P<txn>[0-9a-f-]{36})$"
)
#: tenants whose Hive dir names need escaping, the empty tenant (the
#: Hive null sentinel) and a plain one
_TENANTS = ["mockTenant", "a/b", "t=1", ""]


@pytest.fixture()
def lake(tmp_path, spark):
    return DatalakeSession(lake_root=str(tmp_path / "lake"), spark=spark)


@pytest.fixture()
def driver_writes(monkeypatch):
    """Per-table results of ``TxnTable._driver_commit_write``: a path
    per driver-written commit, None per fallback to the distributed
    writer."""
    seen: dict[str, list] = {}
    real = TxnTable._driver_commit_write

    def spy(self, *args, **kwargs):
        got = real(self, *args, **kwargs)
        seen.setdefault(self.name, []).append(
            None if got is None else "driver"
        )
        return got

    monkeypatch.setattr(TxnTable, "_driver_commit_write", spy)
    return seen


def _jobs_run(spark, fn):
    """(result, Spark jobs started by ``fn``) from the scheduler's
    job-id counter, the count the lake benchmark reports per call."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = int(dag.nextJobId())
    out = fn()
    return out, int(dag.nextJobId()) - j0


def _pandas_frame(spark, rows, cols):
    # a client batch: pandas keeps it a sized local relation
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols))


# -- string twins ----------------------------------------------------------


@pytest.mark.parametrize(
    "path, kw",
    [
        ("raw_data_response/tenant_id=t/transaction_id/x", {}),
        ("ehr/x", {"region": "eu-1", "namespace": "ns", "bucket": "b"}),
        ("", {}),
        (None, {}),
    ],
)
def test_full_url_twin_equals_column_builder(spark, path, kw):
    row = spark.range(1).select(
        datalake_full_url(F.lit(path).cast("string"), **kw).alias("u")
    ).first()
    assert datalake_full_url_str(path, **kw) == row["u"]


# -- one Spark job per publish -----------------------------------------------


def test_each_publish_runs_at_most_one_job(lake, spark, driver_writes):
    fhir_cols = ["resource_type", "resource_id", "resource_json"]
    bin_cols = ["resource_id", "content_type", "resource_json"]
    for i in range(2):  # the first call also creates each table
        fhir = _pandas_frame(
            spark, [("Location", f"loc{i}", "{}"), ("Patient", f"p{i}", "{}")],
            fhir_cols,
        )
        binary = _pandas_frame(spark, [(f"b{i}", "pdf", "{}")], bin_cols)
        n, jobs = _jobs_run(spark, lambda: publish_fhir_r4(lake, "t", fhir))
        assert n == 2 and jobs <= 1, ("publish_fhir_r4", jobs)
        n, jobs = _jobs_run(spark, lambda: publish_binary(lake, "t", binary))
        assert n == 1 and jobs <= 1, ("publish_binary", jobs)
        url, jobs = _jobs_run(
            spark, lambda: publish_raw_data(lake, "t", "body", "http://x")
        )
        assert _URL.match(url) and jobs <= 1, ("publish_raw_data", jobs)
    assert txn_table(lake, RAW_TABLE).read().count() == 2
    # the single job of each raw publish is the driver write's collect
    assert driver_writes[RAW_TABLE] == ["driver", "driver"]


def test_raw_frame_is_under_driver_commit_gate(spark):
    est = _plan_size_estimate(_raw_frame(spark, "t", "x", "http://x", "body"))
    max_bytes = int(spark.conf.get(_KEY, _DRIVER_COMMIT_MAX_BYTES_DEFAULT))
    assert est is not None and est < max_bytes


# -- raw table: driver write == distributed write -----------------------------


def _raw_table_state(session, spark, driver_on: bool, driver_writes):
    spark.conf.set(_KEY, _DRIVER_COMMIT_MAX_BYTES_DEFAULT if driver_on else "0")
    try:
        urls = [
            publish_raw_data(session, t, f"body-{i}", f"http://src/{i}")
            for i, t in enumerate(_TENANTS * 2)
        ]
    finally:
        spark.conf.unset(_KEY)
    # each side really took the write path it names
    taken = driver_writes.pop(RAW_TABLE, [])
    assert taken == (["driver"] * len(urls) if driver_on else [None] * len(urls))
    t = txn_table(session, RAW_TABLE)
    rows = t.read().collect()
    by_txn = {r["transaction_id"]: r for r in rows}
    # every URL names its own stored row, under the tenant it was given
    for i, (tenant, url) in enumerate(zip(_TENANTS * 2, urls)):
        m = _URL.match(url)
        assert m and m.group("t") == tenant
        assert by_txn[m.group("txn")]["body"] == f"body-{i}"
    state = t._state(t.current_version())
    root = session.table_path(RAW_TABLE)
    return {
        "rows": sorted(
            (r["tenant_id"] or "<null>", r["url"], r["body"]) for r in rows
        ),
        "partition_rows": sorted(
            r["body"]
            for r in t.read(partition_filter={"tenant_id": "a/b"}).collect()
        ),
        "files_per_commit": [
            len(t.commit_record(v).get("added", []))
            for v in range(1, t.current_version() + 1)
        ],
        "parts_set": sorted(
            tuple(sorted(p.items())) for p in state["partitions"].values()
        ),
        "dirs": sorted(
            d for d in os.listdir(root) if d.startswith("tenant_id=")
        ),
        "history": [
            (h["version"], h["op"], h.get("rows_total")) for h in t.history()
        ],
    }


def test_raw_driver_commit_state_identical_to_distributed(
    spark, tmp_path, driver_writes
):
    a = _raw_table_state(
        DatalakeSession(lake_root=str(tmp_path / "off"), spark=spark),
        spark,
        driver_on=False,
        driver_writes=driver_writes,
    )
    b = _raw_table_state(
        DatalakeSession(lake_root=str(tmp_path / "on"), spark=spark),
        spark,
        driver_on=True,
        driver_writes=driver_writes,
    )
    assert a == b
    assert a["partition_rows"] == ["body-1", "body-5"]


# -- URL edge cases -------------------------------------------------------------


def test_null_tenant_url_is_null_and_row_is_stored(lake, spark):
    url = publish_raw_data(lake, None, "null-tenant", "http://x")
    # NULL, as SQL concat over the raw-data key template gives
    column_url = spark.range(1).select(
        datalake_full_url(
            F.concat(
                F.lit("raw_data_response/tenant_id="),
                F.lit(None).cast("string"),
                F.lit("/transaction_id/x"),
            )
        ).alias("u")
    ).first()["u"]
    assert url is None and column_url is None
    rows = txn_table(lake, RAW_TABLE).read().collect()
    assert [(r["tenant_id"], r["body"]) for r in rows] == [(None, "null-tenant")]


def test_non_acid_publish_same_url_and_row(lake, spark, tmp_path):
    hive = DatalakeSession(
        lake_root=str(tmp_path / "hive_lake"), spark=spark, acid=False
    )
    stored = []
    for session in (lake, hive):
        url = publish_raw_data(session, "t=1", "body", "http://src")
        m = _URL.match(url)
        assert m and m.group("t") == "t=1"
        (row,) = read_lake_table(session, RAW_TABLE).collect()
        assert row["transaction_id"] == m.group("txn")
        assert "T" in row["time"]  # ISO-8601 string
        stored.append((row["tenant_id"], row["url"], row["body"]))
    assert stored[0] == stored[1] == ("t=1", "http://src", "body")
