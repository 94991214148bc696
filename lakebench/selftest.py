"""Self-tests of the benchmark's own machinery.

Run from the repository root: ``python3 lakebench/selftest.py``. The
last class starts a small local Spark session.
"""

from __future__ import annotations

import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(Path.cwd()))

from catalog_analytics import matches_oracle, result_hash  # noqa: E402
from gen import EhrStream, LifecycleModel, checksum, write_catalog_tables  # noqa: E402
from harness import Run, TooFewSamples, percentile  # noqa: E402
from spans import Span, self_times  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def _ops(self, seed, n=60):
        s = EhrStream(seed)
        s.apply_publish(s.fhir_batch(275))
        s.apply_publish(s.binary_batch())
        out = []
        for _ in range(n):
            op = s.next_op()
            if op["kind"].startswith("publish_"):
                s.apply_publish(op, f"url-{len(out)}")
            out.append(op)
        return out

    def test_ehr_stream_is_deterministic(self):
        self.assertEqual(self._ops(5), self._ops(5))
        self.assertNotEqual(self._ops(5), self._ops(6))

    def test_ehr_rounds_have_a_fixed_mix(self):
        from gen import FHIR_PAIR_ROWS, ROUND_OPS

        ops = self._ops(3, 5 * ROUND_OPS)
        for r in range(5):
            rnd = ops[r * ROUND_OPS:(r + 1) * ROUND_OPS]
            kinds = [o["kind"] for o in rnd]
            self.assertEqual(sum(k.startswith("publish_") for k in kinds), 4)
            self.assertEqual(sorted(k for k in kinds if k.startswith("binary_exists")),
                             ["binary_exists_hit", "binary_exists_miss"])
            fhir = [len(o["rows"]) - o["idless"] for o in rnd if o["kind"] == "publish_fhir_r4"]
            self.assertEqual(sum(fhir), FHIR_PAIR_ROWS)

    def test_lifecycle_model_is_deterministic(self):
        def run(seed):
            m = LifecycleModel(seed)
            m.apply_bulk(0)
            m.apply_merge(*m.merge_batch(1))
            m.apply_delete(m.delete_residue())
            return m.summary(), m.by_segment()

        self.assertEqual(run(9), run(9))
        self.assertNotEqual(run(9), run(10))

    def test_catalog_tables_are_deterministic(self):
        import pyarrow.parquet as pq

        with tempfile.TemporaryDirectory() as d:
            a, b, c = Path(d, "a"), Path(d, "b"), Path(d, "c")
            write_catalog_tables(a, 4, 0.001)
            write_catalog_tables(b, 4, 0.001)
            write_catalog_tables(c, 5, 0.001)
            for t in ("lineitem", "documents", "embeddings", "events"):
                ta = pq.read_table(a / f"{t}.parquet")
                self.assertTrue(ta.equals(pq.read_table(b / f"{t}.parquet")), t)
                self.assertFalse(ta.equals(pq.read_table(c / f"{t}.parquet")), t)


class PercentileTest(unittest.TestCase):
    def test_refuses_fewer_than_ten_beyond(self):
        with self.assertRaises(TooFewSamples):
            percentile(range(99), 90)  # rank 90, 9 beyond
        self.assertEqual(percentile(range(100), 90), 89)  # rank 90, 10 beyond
        with self.assertRaises(TooFewSamples):
            percentile(range(19), 50)
        self.assertEqual(percentile(range(20), 50), 9)
        with self.assertRaises(TooFewSamples):
            percentile([], 50)


class TypicalUnitTest(unittest.TestCase):
    def test_per_kind_median_times_calls_per_unit(self):
        from harness import OpRecord
        from run import typical_unit

        def unit(a1, a2, b):
            return [OpRecord(op, "x", 0.0, w, True) for op, w in (("a", a1), ("a", a2), ("b", b))]

        # one call of kind "a" hit by a burst (9.0) moves its median only
        units = [unit(1.0, 1.2, 5.0), unit(1.1, 9.0, 5.2), unit(1.0, 1.1, 4.8)]
        self.assertAlmostEqual(typical_unit(units), 2 * 1.1 + 5.0)
        self.assertAlmostEqual(typical_unit(units[:1]), 1.0 + 1.2 + 5.0)
        self.assertAlmostEqual(typical_unit(units[:1], lambda r: r.wall_s / 2), 3.6)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        root = Span(0, "op", "publish", None, start=0.0, end=10.0, children=[1, 2])
        a = Span(1, "a", "txn", 0, start=1.0, end=4.0, children=[3])
        b = Span(2, "b", "txn", 0, start=5.0, end=6.5)
        c = Span(3, "c", "streaming", 1, start=2.0, end=2.5)
        st = self_times([root, a, b, c])
        self.assertAlmostEqual(st[0], 10.0 - 3.0 - 1.5)
        self.assertAlmostEqual(st[1], 3.0 - 0.5)
        self.assertAlmostEqual(st[2], 1.5)
        self.assertAlmostEqual(st[3], 0.5)
        self.assertAlmostEqual(sum(st.values()), root.wall)

    def test_child_clipped_to_parent(self):
        root = Span(0, "op", "x", None, start=0.0, end=2.0, children=[1])
        late = Span(1, "c", "y", 0, start=1.5, end=3.0)
        self.assertAlmostEqual(self_times([root, late])[0], 1.5)


class VersionSlopeTest(unittest.TestCase):
    def test_pooled_slope_per_kind(self):
        from ehr_ingest import slope_per_1k_versions
        from harness import OpRecord

        recs = [
            OpRecord("a", "retrieve", 0.0, 0.1 + 0.001 * v, True, info={"version": v})
            for v in range(10)
        ] + [
            OpRecord("b", "retrieve", 0.0, 0.5 + 0.001 * v, True, info={"version": v})
            for v in range(0, 10, 2)
        ]
        self.assertAlmostEqual(slope_per_1k_versions(recs), 1.0)


class _Rows:
    def __init__(self, rows):
        self.rows = rows

    def collect(self):
        return self.rows

    def count(self):
        return len(self.rows)


class _Table:
    def current_version(self):
        return 3

    def resolve_files(self, **_):
        return ["f"]


class _Publish:
    def txn_table(self, session, name):
        return _Table()


class _Retrieve:
    """Answers every lookup with a fixed (possibly wrong) result."""

    def __init__(self, **answers):
        self.a = answers

    def retrieve_binary(self, *_):
        return self.a["row"]

    def binary_exists(self, *_):
        return self.a["exists"]

    def retrieve_binary_batch(self, *_):
        return _Rows(self.a["rows"])

    def retrieve_fhir(self, *args):
        return _Rows(self.a["rows"])


class EhrCheckTest(unittest.TestCase):
    """Each lookup check accepts the right answer and refuses a planted
    wrong one."""

    def _ehr(self, **answers):
        from ehr_ingest import Ehr

        e = Ehr.__new__(Ehr)
        e.session = e.spark = None
        e.stream = EhrStream(1)
        e.stream.apply_publish(e.stream.fhir_batch())
        e.stream.apply_publish(e.stream.binary_batch())
        e.run = Run(0.0)
        e.witness = True
        e.publish = _Publish()
        e.retrieve = _Retrieve(**answers)
        return e

    def _ok(self, e, op) -> bool:
        e.execute(op)
        return e.run.records[-1].ok

    def test_binary_lookups(self):
        e = self._ehr()
        tenant, rid = e.stream.binary_keys[0]
        ct, js = e.stream.binary[(tenant, rid)]
        good = {"resource_id": rid, "fhir_tenant_id": tenant, "content_type": ct, "resource_json": js}
        hit = {"kind": "retrieve_binary_hit", "tenant": tenant, "id": rid}
        e.retrieve = _Retrieve(row=good)
        self.assertTrue(self._ok(e, hit))
        e.retrieve = _Retrieve(row=dict(good, resource_json=js + "x"))
        self.assertFalse(self._ok(e, hit))
        e.retrieve = _Retrieve(row=None)
        self.assertFalse(self._ok(e, hit))
        miss = {"kind": "retrieve_binary_miss", "tenant": tenant, "id": "nope"}
        self.assertTrue(self._ok(e, miss))
        e.retrieve = _Retrieve(row=good)
        self.assertFalse(self._ok(e, miss))
        ex = {"kind": "binary_exists_hit", "tenant": tenant, "id": rid}
        e.retrieve = _Retrieve(exists=True)
        self.assertTrue(self._ok(e, ex))
        e.retrieve = _Retrieve(exists=False)
        self.assertFalse(self._ok(e, ex))
        ex_miss = {"kind": "binary_exists_miss", "tenant": tenant, "id": "nope"}
        self.assertTrue(self._ok(e, ex_miss))
        e.retrieve = _Retrieve(exists=True)
        self.assertFalse(self._ok(e, ex_miss))
        batch = {"kind": "retrieve_binary_batch", "tenant": tenant, "ids": [rid, "nope"]}
        e.retrieve = _Retrieve(rows=[good])
        self.assertTrue(self._ok(e, batch))
        e.retrieve = _Retrieve(rows=[good, good])
        self.assertFalse(self._ok(e, batch))

    def test_fhir_lookups(self):
        e = self._ehr()
        tenant, rtype, rid = e.stream.fhir_keys[0]
        row = {"resource_id": rid, "resource_json": e.stream.fhir[(tenant, rtype, rid)]}
        point = {"kind": "retrieve_fhir_point", "tenant": tenant, "rtype": rtype, "id": rid}
        e.retrieve = _Retrieve(rows=[row])
        self.assertTrue(self._ok(e, point))
        e.retrieve = _Retrieve(rows=[dict(row, resource_json="{}")])
        self.assertFalse(self._ok(e, point))
        part = {"kind": "retrieve_fhir_partition", "tenant": tenant, "rtype": rtype}
        n = e.stream.partition[(tenant, rtype)]
        e.retrieve = _Retrieve(rows=[row] * n)
        self.assertTrue(self._ok(e, part))
        e.retrieve = _Retrieve(rows=[row] * (n + 1))
        self.assertFalse(self._ok(e, part))


class CatalogCheckTest(unittest.TestCase):
    def test_oracle_match_and_hash(self):
        cols = ["k", "v"]
        rows = [(1, 0.1 + 0.2), (2, 5.0)]
        duck = [(2, 5.0), (1, 0.3)]
        self.assertTrue(matches_oracle(rows, cols, duck, cols))
        self.assertFalse(matches_oracle(rows, cols, [(2, 5.0), (1, 0.31)], cols))
        self.assertFalse(matches_oracle(rows, cols, duck[:1], cols))
        self.assertFalse(matches_oracle(rows, cols, duck, ["k", "w"]))
        self.assertEqual(result_hash(rows, cols), result_hash(list(reversed(rows)), cols))
        self.assertNotEqual(result_hash(rows, cols), result_hash([(1, 0.3), (2, 6.0)], cols))


class SparkCheckTest(unittest.TestCase):
    """The lifecycle checksum as Spark computes it, against the model's."""

    @classmethod
    def setUpClass(cls):
        from pyspark.sql import SparkSession

        cls.spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )

    @classmethod
    def tearDownClass(cls):
        from harness import shutdown_spark

        shutdown_spark()

    def test_summary_matches_model_and_catches_a_wrong_row(self):
        import numpy as np

        from lake_lifecycle import _summary

        m = LifecycleModel(2)
        m.apply_bulk(0)
        keys, _, vals = m.arrays()
        rows = list(zip(keys.tolist(), vals.tolist()))
        df = self.spark.createDataFrame(rows, "key BIGINT, val BIGINT")
        self.assertEqual(_summary(df), m.summary())
        rows[7] = (rows[7][0], rows[7][1] + 1)
        bad = self.spark.createDataFrame(rows, "key BIGINT, val BIGINT")
        self.assertNotEqual(_summary(bad), m.summary())
        self.assertEqual(
            checksum(np.array([3, 4]), np.array([5, 6])),
            (3 * 1000003 + 5) + (4 * 1000003 + 6),
        )


if __name__ == "__main__":
    unittest.main()
