"""``lake_lifecycle``: repeated change-data cycles on one source table
and a dimension table, in a closed loop.

Each cycle: a bulk ``TxnTable.append`` whose Catalyst estimate is over
the driver-commit gate; merge-on-read ``merge`` upserts; a merge-on-read
``delete_where``; an availableNow drain of ``read_txn_stream`` into a
parquet sink; ``apply_changes_into`` and ``scd2_apply_changes`` fed by
``read_changes``; ``IncrementalJoinAggView.refresh``; Delta and Iceberg
export plus read-back; ``compact``, ``vacuum`` and ``expire_snapshots``
on the SCD1 target. After each step the result is
checked against ``LifecycleModel``: the source read, the Delta and
Iceberg reads, the CDC and SCD2 targets, the view and the stream sink
must all agree with the model's row count and key/value checksum.
"""

from __future__ import annotations

import time
from datetime import datetime, timezone

from gen import (
    BULK_KEEP_EVERY,
    BULK_RANGE,
    CHECK_MOD,
    KEY_STRIDE,
    N_DIM,
    LifecycleModel,
    checksum,
    segment_of,
)
from harness import Run, gate_side

DRAIN_TIMEOUT_S = 120
_DURATIONS = {
    "latest_offset_ms": "latestOffset",
    "query_planning_ms": "queryPlanning",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
}


def _summary(df):
    """(rows, checksum) of a frame with ``key`` and ``val`` columns, in
    one Spark job; the checksum matches ``gen.checksum``."""
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.pmod(
                F.pmod(F.col("key"), F.lit(CHECK_MOD)) * F.lit(1000003) + F.col("val"),
                F.lit(CHECK_MOD),
            )
        ).alias("c"),
    ).first()
    return int(r["n"]), int(r["c"] or 0)


class Lifecycle:
    def __init__(self, session, seed: int, run: Run):
        from interop_datalake_spark.lake.ivm_join import IncrementalJoinAggView
        from interop_datalake_spark.lake.txn import TxnTable

        self.session = session
        self.spark = session.spark
        self.run = run
        self.model = LifecycleModel(seed)
        self.src = TxnTable(session, "src", stats_cols=["key"])
        self.dim = TxnTable(session, "dim", stats_cols=["dim_id"])
        self.cdc = TxnTable(session, "cdc_target", stats_cols=["key"])
        self.scd = TxnTable(session, "scd2_target", stats_cols=["key"])
        self.view = IncrementalJoinAggView(
            session, "segment_rollup", self.src, self.dim, on=["dim_id"],
            key_cols=["segment"], sum_cols=["val"],
        )
        root = session.lake_root.rstrip("/")
        self.sink = f"{root}/_stream_sink"
        self.ckpt = f"{root}/_stream_ckpt"
        self.src_path = str(self.src.root)
        #: the stream sink is an append log of every row a source commit
        #: added (bulk rows and merge rows)
        self.emitted = [0, 0]
        self.consumed = 0  # last source version the CDC/SCD consumers saw
        self.cycle = 0

    # -- frames --------------------------------------------------------------

    def _bulk_frame(self, cycle: int):
        from pyspark.sql import functions as F

        m = self.model
        i = F.col("id")
        return (
            self.spark.range(BULK_RANGE)
            .where((i * m.a + m.b) % BULK_KEEP_EVERY == 0)
            .select(
                (i + cycle * KEY_STRIDE).alias("key"),
                ((i * 7 + m.b) % N_DIM).cast("int").alias("dim_id"),
                ((i * 31 + cycle) % 1000).alias("val"),
                F.concat(F.lit("p"), i.cast("string")).alias("payload"),
            )
        )

    def _merge_frame(self, keys, dims, vals):
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "key": keys.astype("int64"),
                "dim_id": dims.astype("int32"),
                "val": vals.astype("int64"),
                "payload": [f"m{k}" for k in keys.tolist()],
            }
        )
        return self.spark.createDataFrame(pdf)

    def _emit(self, keys, vals) -> None:
        self.emitted[0] += len(keys)
        self.emitted[1] += checksum(keys, vals)

    # -- set-up ----------------------------------------------------------------

    def seed(self) -> None:
        import pandas as pd

        dims = pd.DataFrame(
            {
                "dim_id": pd.array(range(N_DIM), dtype="int32"),
                "segment": [segment_of(d) for d in range(N_DIM)],
            }
        )
        self.run.call("dim_append", "txn", lambda: self.dim.append(self.spark.createDataFrame(dims)))
        self._append(0)

    def warmup(self) -> None:
        """One read back. The first stream drain, change feed and view
        build come in the warm cycle the protocol runs before measuring:
        a cycle costs ~20 s, too much to repeat in every set-up."""
        self._read()

    # -- steps -------------------------------------------------------------------

    def _append(self, cycle: int) -> None:
        df = self._bulk_frame(cycle)
        side = gate_side(self.spark, df)
        n = self.model.apply_bulk(cycle)
        key, _, val = self.model.bulk_columns(cycle, self.model.bulk_ids())
        self._emit(key, val)
        want = self.model.summary()
        self.run.call(
            "txn.append", "txn", lambda: self.src.append(df),
            check=lambda _: _summary(self.src.read()) == want,
            info={"gate": side, "rows": n},
        )

    def _merge(self) -> None:
        keys, dims, vals = self.model.merge_batch(self.cycle)
        df = self._merge_frame(keys, dims, vals)
        side = gate_side(self.spark, df)
        self.model.apply_merge(keys, dims, vals)
        self._emit(keys, vals)
        want = self.model.summary()
        self.run.call(
            "txn.merge", "txn",
            lambda: self.src.merge(df, ["key"], merge_on_read=True),
            check=lambda _: _summary(self.src.read()) == want,
            info={"gate": side, "rows": len(keys)},
        )

    def _delete_and_drain(self) -> None:
        """Merge-on-read delete, then at once the stream drain whose
        completion measures freshness. The delete's result is checked by
        the ``txn.read`` that follows, so nothing sits between the commit
        and the drain."""
        from pyspark.sql import functions as F

        residue = self.model.delete_residue()
        n = self.model.apply_delete(residue)
        self.run.call(
            "txn.delete_where", "txn",
            lambda: self.src.delete_where((F.col("val") % 97) == residue, merge_on_read=True),
            info={"rows": n},
        )
        self._drain(committed_at=time.perf_counter())

    def _read(self) -> None:
        want = self.model.summary()
        self.run.call(
            "txn.read", "txn", lambda: _summary(self.src.read()),
            check=lambda got: got == want,
        )

    def _drain(self, committed_at: float) -> None:
        """An availableNow drain of the source stream into the sink. Its
        record carries the batches' ``durationMs`` parts (``progress``)
        and ``freshness_s``: from ``committed_at`` to the drain having
        written its rows."""
        from interop_datalake_spark.streaming.txn_source import read_txn_stream

        def drain():
            q = (
                read_txn_stream(self.session, "src")
                .writeStream.format("parquet")
                .option("path", self.sink)
                .option("checkpointLocation", self.ckpt)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(DRAIN_TIMEOUT_S):
                q.stop()
                raise TimeoutError("stream drain did not finish")
            return q.recentProgress

        batches = []

        def check(progress):
            for p in progress:
                d = p["durationMs"] if isinstance(p, dict) else p.durationMs
                batches.append({k: float(d.get(v, 0)) for k, v in _DURATIONS.items()})
            return _summary(self.spark.read.parquet(self.sink)) == tuple(self.emitted)

        self.run.call("streaming.drain", "streaming", drain, check=check)
        rec = self.run.records[-1]
        rec.info["progress"] = batches
        rec.info["freshness_s"] = self.run.origin + rec.start_s + rec.wall_s - committed_at

    def _consume(self) -> None:
        """Feed the change window since the last consumed version to the
        SCD1 (``apply_changes_into``) and SCD2 targets."""
        from interop_datalake_spark.lake.cdc_apply import apply_changes_into
        from interop_datalake_spark.lake.scd import scd2_apply_changes

        lo, hi = self.consumed, self.src.current_version()
        want = self.model.summary()

        def changes():
            with self.run.span("txn.read_changes", "txn"):
                return self.src.read_changes(lo, hi, include_deletes=True)

        self.run.call(
            "cdc_apply.apply", "cdc_apply",
            lambda: apply_changes_into(self.cdc, changes(), ["key"]),
            check=lambda _: _summary(self.cdc.read()) == want,
        )

        def current():
            from pyspark.sql import functions as F

            return self.scd.read().filter(F.col("is_current"))

        self.run.call(
            "scd.apply", "scd",
            lambda: scd2_apply_changes(self.scd, changes(), ["key"]),
            check=lambda _: _summary(current()) == want,
        )
        self.consumed = hi

    def _refresh(self) -> None:
        want = self.model.by_segment()

        def check(_):
            got = {
                r["segment"]: (int(r["n"]), int(r["sum_val"]))
                for r in self.view.read().collect()
            }
            return got == want

        self.run.call("ivm_join.refresh", "ivm_join", self.view.refresh, check=check)

    def _interop(self) -> None:
        from interop_datalake_spark.lake.delta_interop import export_delta_log, read_delta
        from interop_datalake_spark.lake.iceberg_interop import (
            export_iceberg_metadata,
            read_iceberg,
        )

        want = self.model.summary()
        self.run.call("delta_interop.export", "delta_interop", lambda: export_delta_log(self.src))
        self.run.call(
            "delta_interop.read", "delta_interop",
            lambda: _summary(read_delta(self.spark, self.src_path)),
            check=lambda got: got == want,
        )
        self.run.call(
            "iceberg_interop.export", "iceberg_interop",
            lambda: export_iceberg_metadata(self.src),
        )
        self.run.call(
            "iceberg_interop.read", "iceberg_interop",
            lambda: _summary(read_iceberg(self.spark, self.src_path)),
            check=lambda got: got == want,
        )

    def _maintenance(self) -> None:
        """OPTIMIZE / VACUUM / expire on the SCD1 target, which gathers a
        merge-on-read file and deletion vector every cycle. Nothing reads
        it incrementally, so the rewrite does not disturb the feeds."""
        want = self.model.summary()
        self.run.call(
            "txn.compact", "txn", lambda: self.cdc.compact(),
            check=lambda _: _summary(self.cdc.read()) == want,
        )
        self.run.call("txn.vacuum", "txn", lambda: self.cdc.vacuum(keep_versions=2))
        self.run.call(
            "txn.expire_snapshots", "txn",
            lambda: self.cdc.expire_snapshots(datetime.now(timezone.utc)),
            check=lambda _: _summary(self.cdc.read()) == want,
        )

    def _next_cycle(self) -> None:
        self.cycle += 1

    def units(self):
        """One cycle per unit, as a list of steps."""
        while True:
            yield [
                self._next_cycle,
                lambda: self._append(self.cycle),
                self._merge,
                self._delete_and_drain,
                self._read,
                self._consume,
                self._refresh,
                self._interop,
                self._maintenance,
            ]

    def final_state(self) -> dict:
        """Live rows of every table under the lake root (the stream sink
        included) and their Arrow bytes, for storage_amp; the source's
        count must equal the model."""
        counts, arrow_bytes = {}, 0
        frames = {
            "src": self.src.read(),
            "dim": self.dim.read(),
            "cdc_target": self.cdc.read(),
            "scd2_target": self.scd.read(),
            "segment_rollup": self.view.read(),
            "stream_sink": self.spark.read.parquet(self.sink),
        }
        for name, df in frames.items():
            tbl = df.toArrow()
            counts[name] = tbl.num_rows
            arrow_bytes += tbl.nbytes
        counts["src"] = (counts["src"], self.model.summary()[0])
        return {"counts": counts, "arrow_bytes": arrow_bytes}
