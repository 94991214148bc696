"""Path templating + object-URL functions, mostly as column expressions.

Reference parity:
- ``DatalakePublishService.kt:68-73``  FHIR partitioned path (R1)
- ``DatalakePublishService.kt:148-153`` Binary path (R5)
- ``DatalakeRetrieveService.kt:54-57``  same template on the read side (R12)
- ``DatalakePublishService.kt:156-158`` + ``OCIClient.kt:94-95`` full URL (R6)
- ``OCIClient.kt:252-256``             URI → (namespace, bucket, path) parse (R14);
  the reference slices path segments 3 and 5 of
  ``https://objectstorage.<region>.oraclecloud.com/n/<ns>/b/<bucket>/o/<path>``
  and returns null for malformed URIs (``OCIClientTest.kt:244-254``).

All pure string algebra — these stay in whole-stage codegen. The
raw-data path is a plain-string function, and the full URL also has a
plain-string twin (``datalake_full_url_str``), for the raw publish,
which holds its values on the driver.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def fhir_file_path(
    resource_type: Column | str,
    tenant_id: Column | str,
    resource_id: Column | str,
    date: Column | str,
) -> Column:
    """``ehr/<type lowercase>/fhir_tenant_id=<t>/_date=<ISO d>/<id>.json``
    (``DatalakePublishService.kt:68-73``)."""
    return F.concat(
        F.lit("ehr/"),
        F.lower(_col(resource_type)),
        F.lit("/fhir_tenant_id="),
        _col(tenant_id),
        F.lit("/_date="),
        F.date_format(_col(date), "yyyy-MM-dd"),
        F.lit("/"),
        _col(resource_id),
        F.lit(".json"),
    )


def binary_file_path(tenant_id: Column | str, resource_id: Column | str) -> Column:
    """``ehr/Binary/fhir_tenant_id=<t>/<id>.json`` — no date partition
    (``DatalakePublishService.kt:148-153``, ``DatalakeRetrieveService.kt:54-57``)."""
    return F.concat(
        F.lit("ehr/Binary/fhir_tenant_id="),
        _col(tenant_id),
        F.lit("/"),
        _col(resource_id),
        F.lit(".json"),
    )


#: fixed part of the object-URL template — shared by the Column builder
#: and its plain-string twin so the two cannot drift
_URL_BASE = "https://objectstorage.{region}.oraclecloud.com/n/{namespace}/b/{bucket}/o/"


def raw_data_file_path(tenant_id: str | None, transaction_id: str | None) -> str | None:
    """``raw_data_response/tenant_id=<t>/transaction_id/<uuid>``
    (``DatalakePublishService.kt:177``), over Python values: the raw
    publish holds both on the driver. NULL in gives None, as ``concat``
    does."""
    if tenant_id is None or transaction_id is None:
        return None
    return f"raw_data_response/tenant_id={tenant_id}/transaction_id/{transaction_id}"


def datalake_full_url(
    file_path: Column | str,
    region: str = "us-phoenix-1",
    namespace: str = "namespace",
    bucket: str = "datalake",
) -> Column:
    """Public object URL (``OCIClient.kt:94-95``; region default
    ``us-phoenix-1`` per ``OCIClient.kt:28-44``)."""
    return F.concat(
        F.lit(_URL_BASE.format(region=region, namespace=namespace, bucket=bucket)),
        _col(file_path),
    )


def datalake_full_url_str(
    file_path: str | None,
    region: str = "us-phoenix-1",
    namespace: str = "namespace",
    bucket: str = "datalake",
) -> str | None:
    """:func:`datalake_full_url` over a Python value: NULL in, None out,
    like ``concat``."""
    if file_path is None:
        return None
    base = _URL_BASE.format(region=region, namespace=namespace, bucket=bucket)
    return base + file_path


#: full-URL shape: /n/<namespace>/b/<bucket>/o/<path>
_URL_RE = r"^https://[^/]+/n/([^/]+)/b/([^/]+)/o/(.+)$"


def parse_object_url(url: Column | str) -> Column:
    """STRUCT(namespace, bucket, path) or NULL for malformed URLs.

    Mirrors ``OCIClient.kt:252-256`` (slice path segments 3 and 5) with
    the malformed-URI→null behavior pinned by ``OCIClientTest.kt:244-254``.
    """
    u = _col(url)
    ns = F.regexp_extract(u, _URL_RE, 1)
    bucket = F.regexp_extract(u, _URL_RE, 2)
    path = F.regexp_extract(u, _URL_RE, 3)
    ok = ns != ""
    return F.when(
        ok,
        F.struct(ns.alias("namespace"), bucket.alias("bucket"), path.alias("path")),
    ).otherwise(F.lit(None))
