"""``ehr_ingest``: the reference's own traffic, in a closed loop.

One client publishes FHIR, Binary and raw objects for eight Zipf-skewed
tenants and reads them back by key (about 20% writes, 80% reads, in a
seeded order). Every publish return value and every lookup is checked
against ``EhrStream``'s model of what was published.
"""

from __future__ import annotations

import re

import numpy as np

from gen import FHIR_PAIR_ROWS, ROUND_OPS, EhrStream
from harness import Run, gate_side

_URL = re.compile(
    r"^https://.+/raw_data_response/tenant_id=(?P<t>[^/]+)/transaction_id/"
    r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"
)


def _table_of(kind: str) -> str:
    if "fhir" in kind:
        return "ehr"
    if "binary" in kind:
        return "ehr_binary"
    return "raw_data_response"


class Ehr:
    def __init__(self, session, seed: int, run: Run, witness: bool):
        from interop_datalake_spark.lake import publish, retrieve

        self.session = session
        self.spark = session.spark
        self.stream = EhrStream(seed)
        self.run = run
        self.witness = witness  # traced run: files opened per lookup
        self.publish = publish
        self.retrieve = retrieve
        self.raw_side = None

    # -- one operation -----------------------------------------------------

    def execute(self, op: dict) -> None:
        {
            "publish_fhir_r4": self._publish_fhir_r4,
            "publish_binary": self._publish_binary,
            "publish_raw_data": self._publish_raw_data,
            "retrieve_binary_hit": self._retrieve_binary,
            "retrieve_binary_miss": self._retrieve_binary,
            "binary_exists_hit": self._binary_exists,
            "binary_exists_miss": self._binary_exists,
            "retrieve_binary_batch": self._retrieve_binary_batch,
            "retrieve_fhir_point": self._retrieve_fhir_point,
            "retrieve_fhir_partition": self._retrieve_fhir_partition,
        }[op["kind"]](op)

    def _frame(self, rows, cols):
        import pandas as pd

        # pandas input keeps the frame a sized local relation, the
        # shape a client batch has (a Python list would be an RDD)
        return self.spark.createDataFrame(pd.DataFrame(rows, columns=cols))

    def _publish_fhir_r4(self, op):
        df = self._frame(op["rows"], ["resource_type", "resource_id", "resource_json"])
        info = {"rows": len(op["rows"]), "gate": gate_side(self.spark, df)}
        if op["idless"]:
            self.run.call(
                "publish_fhir_r4", "publish",
                lambda: self.publish.publish_fhir_r4(self.session, op["tenant"], df),
                expect=self.publish.MissingResourceIdError, info=info,
            )
        else:
            want = self.stream.valid_rows(op)
            self.run.call(
                "publish_fhir_r4", "publish",
                lambda: self.publish.publish_fhir_r4(self.session, op["tenant"], df),
                check=lambda n: n == want, info=info,
            )
        if self.run.records[-1].ok:
            self.stream.apply_publish(op)

    def _publish_binary(self, op):
        df = self._frame(op["rows"], ["resource_id", "content_type", "resource_json"])
        info = {"rows": len(op["rows"]), "gate": gate_side(self.spark, df)}
        want = len(op["rows"])
        self.run.call(
            "publish_binary", "publish",
            lambda: self.publish.publish_binary(self.session, op["tenant"], df),
            check=lambda n: n == want, info=info,
        )
        if self.run.records[-1].ok:
            self.stream.apply_publish(op)

    def _publish_raw_data(self, op):
        if self.raw_side is None:
            # publish_raw_data builds its own one-row frame from a Python
            # list; estimate the same shape
            probe = self.spark.createDataFrame(
                [(op["tenant"], "t", op["url"], "ts", op["data"])],
                "tenant_id STRING, transaction_id STRING, url STRING, time STRING, body STRING",
            )
            self.raw_side = gate_side(self.spark, probe)

        def check(url):
            m = _URL.match(url or "")
            return bool(m) and m.group("t") == op["tenant"] and url not in self.stream.raw_urls

        url = self.run.call(
            "publish_raw_data", "publish",
            lambda: self.publish.publish_raw_data(
                self.session, op["tenant"], op["data"], op["url"]
            ),
            check=check, info={"gate": self.raw_side},
        )
        if self.run.records[-1].ok:
            self.stream.apply_publish(op, url)

    def _lookup_info(self, kind, partition_filter, key_range) -> dict:
        t = self.publish.txn_table(self.session, _table_of(kind))
        info = {"version": t.current_version()}
        if self.witness:
            info["files"] = len(
                t.resolve_files(partition_filter=partition_filter, key_range=key_range)
            )
        return info

    def _retrieve_binary(self, op):
        kind = op["kind"]
        info = self._lookup_info(
            kind, {"fhir_tenant_id": op["tenant"]}, ("resource_id", op["id"], op["id"])
        )
        want = self.stream.binary.get((op["tenant"], op["id"]))

        def check(row):
            if want is None:
                info["useful"] = 0
                return row is None
            info["useful"] = 1
            return (
                row is not None
                and row["resource_id"] == op["id"]
                and row["fhir_tenant_id"] == op["tenant"]
                and (row["content_type"], row["resource_json"]) == want
            )

        self.run.call(
            kind, "retrieve",
            lambda: self.retrieve.retrieve_binary(self.session, op["tenant"], op["id"]),
            check=check, info=info,
        )

    def _binary_exists(self, op):
        info = self._lookup_info(
            "binary", {"fhir_tenant_id": op["tenant"]}, ("resource_id", op["id"], op["id"])
        )
        want = (op["tenant"], op["id"]) in self.stream.binary
        info["useful"] = int(want)
        self.run.call(
            op["kind"], "retrieve",
            lambda: self.retrieve.binary_exists(self.session, op["tenant"], op["id"]),
            check=lambda got: got is want, info=info,
        )

    def _retrieve_binary_batch(self, op):
        ids = op["ids"]
        info = self._lookup_info(
            "binary", {"fhir_tenant_id": op["tenant"]}, ("resource_id", min(ids), max(ids))
        )
        want = {
            i: self.stream.binary[(op["tenant"], i)][1]
            for i in ids
            if (op["tenant"], i) in self.stream.binary
        }
        info["useful"] = len(want)
        self.run.call(
            "retrieve_binary_batch", "retrieve",
            lambda: self.retrieve.retrieve_binary_batch(
                self.session, op["tenant"], ids
            ).collect(),
            check=lambda rows: {r["resource_id"]: r["resource_json"] for r in rows} == want
            and len(rows) == len(want),
            info=info,
        )

    def _retrieve_fhir_point(self, op):
        key = (op["tenant"], op["rtype"], op["id"])
        info = self._lookup_info(
            "fhir",
            {"resource_type": op["rtype"], "fhir_tenant_id": op["tenant"]},
            ("resource_id", op["id"], op["id"]),
        )
        info["useful"] = 1
        want = self.stream.fhir[key]
        self.run.call(
            "retrieve_fhir_point", "retrieve",
            lambda: self.retrieve.retrieve_fhir(
                self.session, op["tenant"], op["rtype"], op["id"]
            ).collect(),
            check=lambda rows: len(rows) == 1
            and rows[0]["resource_json"] == want
            and rows[0]["resource_id"] == op["id"],
            info=info,
        )

    def _retrieve_fhir_partition(self, op):
        info = self._lookup_info(
            "fhir", {"resource_type": op["rtype"], "fhir_tenant_id": op["tenant"]}, None
        )
        want = self.stream.partition[(op["tenant"], op["rtype"])]
        info["useful"] = want
        self.run.call(
            "retrieve_fhir_partition", "retrieve",
            lambda: self.retrieve.retrieve_fhir(
                self.session, op["tenant"], op["rtype"]
            ).count(),
            check=lambda n: n == want, info=info,
        )

    # -- phases --------------------------------------------------------------

    def seed(self) -> None:
        """One FHIR and one Binary publish, so every read kind has a
        target from the first operation on (raw data has no reads)."""
        s = self.stream
        for op in (s.fhir_batch(FHIR_PAIR_ROWS // 2), s.binary_batch()):
            self.execute(op)

    def warmup(self) -> None:
        """One read back of the seed. Every read kind's first run comes
        in the warm rounds the protocol runs before measuring."""
        self.execute(self.stream.read("retrieve_binary_hit"))

    def units(self):
        """Rounds of ``ROUND_OPS`` operations. A round holds a fixed mix
        (two FHIR, one Binary and one raw publish, sixteen lookups), so
        runs of different seeds do the same kinds of work."""
        while True:
            yield [self._next] * ROUND_OPS

    def _next(self) -> None:
        self.execute(self.stream.next_op())

    def final_state(self) -> dict:
        """Untimed end-of-run check: live rows per table equal the model;
        also returns the Arrow bytes of those rows for storage_amp."""
        counts, arrow_bytes = {}, 0
        for table, want in self.stream.live_rows().items():
            tbl = self.publish.txn_table(self.session, table).read().toArrow()
            counts[table] = (tbl.num_rows, want)
            arrow_bytes += tbl.nbytes
        return {"counts": counts, "arrow_bytes": arrow_bytes}


def slope_per_1k_versions(records) -> float:
    """Least-squares slope of lookup latency against table version, with
    each lookup kind centred on its own mean (one pooled fit, so kinds
    with different base latencies share it), in seconds per 1000
    versions."""
    by_kind: dict[str, list] = {}
    for r in records:
        if r.layer == "retrieve" and "version" in r.info:
            by_kind.setdefault(r.op, []).append((r.info["version"], r.wall_s))
    xs, ys = [], []
    for pts in by_kind.values():
        v = np.array([p[0] for p in pts], dtype=float)
        w = np.array([p[1] for p in pts], dtype=float)
        xs.append(v - v.mean())
        ys.append(w - w.mean())
    if not xs:
        return 0.0
    x, y = np.concatenate(xs), np.concatenate(ys)
    den = float((x * x).sum())
    return 1000.0 * float((x * y).sum()) / den if den else 0.0
