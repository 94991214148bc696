"""Lake benchmark: ``python3 lakebench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``, run from the repository root.

Workloads (each a closed loop: one client thread, ``local[<cores>]``,
one Python process):

- ``ehr_ingest``: FHIR/Binary/raw publishes and keyed lookups;
- ``lake_lifecycle``: change-data cycles over the TxnTable core, CDC,
  SCD2, IVM, Delta/Iceberg interop and the readStream source;
- ``catalog_analytics``: passes over lake-free catalog queries (not in
  BENCHMARK.json: see lakebench/DESIGN.md).

A run starts the engine, sets the workload up three times (``setup_s``
is the median), runs the workload's untimed warm units, then runs
whole units of work (a round of calls, a cycle, a pass) until
``--seconds`` have passed, checking every result. ``unit_s`` is a
typical unit: each kind of call's median wall (net of the CPU time the
hypervisor stole) times its calls per unit, summed. With ``--trace 1`` the workload is set up once and warmed up,
then two more copies of the workload, each on its own lake and after
one warm unit of its own, run the same steps: one untraced, one with
spans and boundary counters on. Steps alternate
between the two copies (ABBA), so the tracing overhead is the traced
copy's wall minus the untraced copy's. The second-to-last stdout line
is the full report (every named metric, per-operation records with
monotonic start times, gate witnesses, CPU anchors); the last line is
the summary ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from collections import Counter
from dataclasses import replace
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOADS = ("ehr_ingest", "lake_lifecycle", "catalog_analytics")
LAYERS = (
    "publish", "retrieve", "txn", "cdc_apply", "scd", "ivm_join",
    "delta_interop", "iceberg_interop", "streaming", "catalog",
)


def _engine_importable() -> bool:
    sys.path.insert(0, str(Path.cwd()))
    try:
        import interop_datalake_spark  # noqa: F401
    except ImportError:
        return False
    return True


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs):
    return statistics.median(xs) if xs else None


def _wall(records) -> float:
    """Engine time of a group of calls (their checks excluded)."""
    return sum(r.wall_s for r in records)


def typical_unit(units, wall=lambda r: r.wall_s) -> float:
    """Wall of a typical unit of work: for each kind of call, the median
    ``wall(record)`` of that kind over the run times how many calls of
    it a unit holds, summed over the kinds. A host burst that slows a
    few calls moves a median less than it moves the units it lands in."""
    walls: dict[str, list[float]] = {}
    for unit in units:
        for r in unit:
            walls.setdefault(r.op, []).append(wall(r))
    return sum(len(w) / len(units) * statistics.median(w) for w in walls.values())


class CommitLog:
    """Commit records of every TxnTable under a lake root, read after
    each call of the traced copy (before vacuum can drop them)."""

    def __init__(self, root: Path):
        self.root = root
        self.seen: dict[Path, int] = {}
        self.commits = self.files = self.bytes = 0

    def observe(self) -> None:
        for mdir in self.root.glob("*/_manifests"):
            last = self.seen.get(mdir, 0)
            for p in mdir.glob("v*.json"):
                v = int(p.stem[1:])
                if v <= last:
                    continue
                try:
                    rec = json.loads(p.read_text())
                except (OSError, ValueError):
                    continue
                self.commits += 1
                added = rec.get("added", [])
                self.files += len(added)
                for rel in added:
                    try:
                        self.bytes += (mdir.parent / rel).stat().st_size
                    except OSError:
                        pass
                self.seen[mdir] = max(self.seen.get(mdir, 0), v)

    def manifest_bytes(self) -> int:
        from harness import dir_bytes

        return sum(dir_bytes(m) for m in self.root.glob("*/_manifests"))


# ---------------------------------------------------------------- adapters
# An adapter maps one workload onto the protocol. The state object it
# makes has seed(), warmup(), units() (each unit a list of steps) and a
# ``run`` attribute; the adapter adds the workload's own metrics.


class Adapter:
    #: untimed units run after set-up and before measuring
    warm_units = 0

    def verify(self, st):
        """Untimed result checks once per run, before measuring."""

    def carry(self, st_a, st_b):
        """Hand what ``verify`` learned on ``st_a`` to another copy."""

    def final(self, st):
        return st.final_state()


class EhrAdapter(Adapter):
    name = "ehr_ingest"
    # rounds keep getting faster for the first ~30 s after set-up (JIT):
    # after one warm round the next ran 30% slow, after three still ~10%,
    # and by how much varied from process to process
    warm_units = 4

    def make(self, session, seed, run, work, witness=False):
        from ehr_ingest import Ehr

        return Ehr(session, seed, run, witness)

    def named(self, st, run, units):
        from harness import latency_summary

        out = {}
        for prefix, layer in (("publish", "publish"), ("lookup", "retrieve")):
            xs = run.walls(lambda r, layer=layer: r.layer == layer)
            out.update({f"{prefix}_{k}": v for k, v in latency_summary(xs).items()})
        return out

    def gates(self, st, run):
        return dict(Counter(r.info["gate"] for r in run.records if "gate" in r.info))

    def layer(self, st, rb, ra):
        from ehr_ingest import slope_per_1k_versions

        def m(*ops):
            return _mean(r.wall_s for r in rb.records if r.op in ops)

        looks = [r for r in rb.records if r.layer == "retrieve" and "files" in r.info]
        files = sum(r.info["files"] for r in looks)
        useful = sum(r.info.get("useful", 0) for r in looks)
        return {
            "publish.fhir_s": m("publish_fhir_r4"),
            "publish.binary_s": m("publish_binary"),
            "publish.raw_s": m("publish_raw_data"),
            "retrieve.binary_s": m("retrieve_binary_hit", "retrieve_binary_miss"),
            "retrieve.exists_s": m("binary_exists_hit", "binary_exists_miss"),
            "retrieve.fhir_point_s": m("retrieve_fhir_point"),
            "retrieve.fhir_partition_s": m("retrieve_fhir_partition"),
            "retrieve.batch_s": m("retrieve_binary_batch"),
            "retrieve.files_opened": files / len(looks) if looks else 0.0,
            "retrieve.rows_per_file_opened": useful / files if files else 0.0,
            "retrieve.s_per_1k_versions": slope_per_1k_versions(ra.records),
        }


#: the lifecycle calls that change rows: appended, merged, deleted
ROW_OPS = ("txn.append", "txn.merge", "txn.delete_where")


class LifecycleAdapter(Adapter):
    name = "lake_lifecycle"
    # the first cycle also does the first stream drain, change feed and
    # view build over the seeded table, and compiles most of the plans
    warm_units = 1

    def make(self, session, seed, run, work, witness=False):
        from lake_lifecycle import Lifecycle

        return Lifecycle(session, seed, run)

    def named(self, st, run, units):
        from harness import latency_summary

        walls = [_wall(u) for u in units]
        recs = [r for u in units for r in u]
        rows = sum(r.info["rows"] for r in recs if r.op in ROW_OPS)
        out = {
            "cycles": len(units),
            "cycle_p50_s": _median(walls),
            "rows_per_s": rows / sum(walls) if walls else None,
            "cdc_freshness_s": _median([r.info["freshness_s"] for r in recs if "freshness_s" in r.info]),
        }
        out.update({f"op_{k}": v for k, v in latency_summary(run.walls()).items()})
        return out

    def gates(self, st, run):
        return {
            op: dict(Counter(r.info["gate"] for r in run.records if r.op == op and "gate" in r.info))
            for op in ("txn.append", "txn.merge")
        }

    def layer(self, st, rb, ra):
        def m(*ops):
            return _mean(r.wall_s for r in rb.records if r.op in ops)

        drains = [r for r in rb.records if r.op == "streaming.drain"]
        prog = [p for r in drains for p in r.info.get("progress", [])]
        log = Path(st.src_path, "_delta_log")
        return {
            "txn.append_s": m("txn.append"),
            "txn.merge_s": m("txn.merge"),
            "txn.delete_where_s": m("txn.delete_where"),
            "txn.compact_s": m("txn.compact"),
            "txn.vacuum_s": m("txn.vacuum"),
            "cdc_apply.apply_s": m("cdc_apply.apply"),
            "scd.apply_s": m("scd.apply"),
            "ivm_join.refresh_s": m("ivm_join.refresh"),
            "delta_interop.export_s": m("delta_interop.export"),
            "delta_interop.read_s": m("delta_interop.read"),
            "delta_interop.log_bytes": float(
                sum(os.path.getsize(p) for p in log.glob("*") if p.is_file())
            ),
            "iceberg_interop.export_s": m("iceberg_interop.export"),
            "iceberg_interop.read_s": m("iceberg_interop.read"),
            "streaming.drain_s": m("streaming.drain"),
            "streaming.batches": len(prog) / len(drains) if drains else 0.0,
            **{
                f"streaming.{k}": _mean(p[k] for p in prog)
                for k in ("latest_offset_ms", "query_planning_ms", "add_batch_ms", "wal_commit_ms")
            },
        }


class CatalogAdapter(Adapter):
    name = "catalog_analytics"

    def make(self, session, seed, run, work, witness=False):
        from catalog_analytics import Catalog

        return Catalog(session, seed, run, work / "catalog_data")

    def verify(self, st):
        st.verify()

    def carry(self, st_a, st_b):
        # same seed, same generated tables: the verified hashes hold
        st_b.verified.update(st_a.verified)

    def final(self, st):
        return None

    def named(self, st, run, units):
        return {"passes": len(units), "query_pass_s": _median([_wall(u) for u in units])}

    def gates(self, st, run):
        return {}

    def layer(self, st, rb, ra):
        from catalog_analytics import QUERIES

        out = {
            f"catalog.{q}_s": _median(rb.walls(lambda r, q=q: r.op == q)) or 0.0
            for q in QUERIES
        }
        builds = [r.info["build_s"] for r in rb.records if "build_s" in r.info]
        out["catalog.build_s"] = _mean(builds)
        out["catalog.action_s"] = _mean(rb.walls(lambda r: r.layer == "catalog")) - _mean(builds)
        return out


ADAPTERS = {a.name: a for a in (EhrAdapter(), LifecycleAdapter(), CatalogAdapter())}


# ---------------------------------------------------------------- protocol


def setup_state(adapter, session, seed, run, work, witness=False):
    st = adapter.make(session, seed, run, work, witness)
    t0 = time.perf_counter()
    st.seed()
    t1 = time.perf_counter()
    st.warmup()
    return st, {"seed": t1 - t0, "warmup": time.perf_counter() - t1}


def session_on(session, lake: Path):
    """The same Spark session over another lake root."""
    return replace(session, lake_root=str(lake), _tables={})


def warm(st, n: int) -> None:
    """Run ``n`` units untimed (their calls are still checked, on the
    set-up record)."""
    units = st.units()
    for _ in range(n):
        for step in next(units):
            step()


def measure(st, seconds: float, after_first=None) -> list[list]:
    """Whole units until ``seconds`` have passed; returns each unit's
    call records (the engine calls only, checks excluded).
    ``after_first()`` runs once, untimed, after the first unit."""
    units = []
    t_end = time.perf_counter() + seconds
    for unit in st.units():
        if time.perf_counter() >= t_end:
            break
        lo = len(st.run.records)
        for step in unit:
            step()
        units.append(st.run.records[lo:])
        if after_first is not None and len(units) == 1:
            after_first()
    return units


def measure_interleaved(st_a, st_b, tracer, seconds: float) -> list[list]:
    """Whole units of the untraced copy ``st_a`` and the traced copy
    ``st_b``, step by step in ABBA order, until ``seconds`` have passed.
    The py4j wrapper is installed only around the traced copy's steps."""
    units = []
    t_end = time.perf_counter() + seconds
    for k, (ua, ub) in enumerate(zip(st_a.units(), st_b.units())):
        if time.perf_counter() >= t_end:
            break
        lo = len(st_a.run.records)
        for i, (sa, sb) in enumerate(zip(ua, ub)):
            pair = [(sa, False), (sb, True)]
            if (i + k) % 2:
                pair.reverse()
            for step, traced in pair:
                if traced:
                    tracer.install()
                try:
                    step()
                finally:
                    if traced:
                        tracer.uninstall()
        units.append(st_a.run.records[lo:])
    return units


def per_layer_spec() -> dict[str, str]:
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def boundary_metrics(summ, rb, ra, commits) -> dict:
    """Per-call boundary counters, per-layer self time and the tracing
    overhead, from the traced copy's span summary."""
    per_layer, by_name = summ["per_layer"], summ["per_name"]
    n = max(1, rb.attempted)
    tot = {
        k: sum(v.get(k, 0.0) for v in per_layer.values())
        for k in ("self_s", "py4j_calls", "chatter_s", "blocking_s", "jobs",
                  "stages", "tasks", "task_run_s", "cpu_s")
    }
    traced_wall, untraced_wall = sum(rb.walls()), sum(ra.walls())
    gates = [r.info["gate"] for r in rb.records if "gate" in r.info]
    commits_n = max(1, commits.commits)

    def jobs_per(*names):
        calls = sum(by_name.get(x, {}).get("spans", 0) for x in names)
        return sum(by_name.get(x, {}).get("jobs", 0) for x in names) / calls if calls else 0.0

    def self_per_call(name):
        d = by_name.get(name, {})
        return d.get("self_s", 0.0) / d["spans"] if d.get("spans") else 0.0

    ice = [by_name.get(x, {}) for x in ("iceberg_interop.export", "iceberg_interop.read")]
    ice_calls = sum(d.get("spans", 0) for d in ice)
    out = {
        "py4j.calls": tot["py4j_calls"] / n,
        "py4j.chatter_s": tot["chatter_s"] / n,
        "py4j.blocking_s": tot["blocking_s"] / n,
        "spark.jobs": tot["jobs"] / n,
        "spark.stages": tot["stages"] / n,
        "spark.tasks": tot["tasks"] / n,
        "spark.task_run_s": tot["task_run_s"] / n,
        "driver.cpu_s": tot["cpu_s"] / n,
        "driver.other_s": (traced_wall - tot["chatter_s"] - tot["blocking_s"]) / n,
        "trace.overhead_s": traced_wall - untraced_wall,
        "trace.self_sum_ratio": tot["self_s"] / untraced_wall if untraced_wall else 0.0,
        "txn.commits": commits.commits / n,
        "txn.files_added": commits.files / commits_n,
        "txn.bytes_written": commits.bytes / commits_n,
        "txn.manifest_bytes": commits.manifest_bytes() / commits_n,
        "txn.gate_driver_share": sum(g == "driver" for g in gates) / len(gates) if gates else 0.0,
        "txn.read_changes_s": self_per_call("txn.read_changes"),
        "publish.spark_jobs": jobs_per("publish_fhir_r4", "publish_binary", "publish_raw_data"),
        "ivm_join.spark_jobs": jobs_per("ivm_join.refresh"),
        "iceberg_interop.py4j_calls": (
            sum(d.get("py4j_calls", 0) for d in ice) / ice_calls if ice_calls else 0.0
        ),
    }
    for layer in LAYERS:
        out[f"self.{layer}_s"] = per_layer.get(layer, {}).get("self_s", 0.0) / n
    return out


def drive(adapter, seed: int, seconds: float, trace: bool, work: Path) -> tuple[dict, dict]:
    from harness import (
        Run,
        cores,
        cpu_anchor,
        dir_bytes,
        fresh_lake,
        SETUP_REPEATS,
        rss_breakdown_mb,
        setup_repeated,
        vm_cpus,
    )

    origin = time.perf_counter()
    anchor_before = cpu_anchor()
    setup_run = Run(origin)
    # a traced run reports no setup_s and sets up once: its two extra
    # copies and warm unit already make it the longest run
    session, st, engine_s, setup_times, phases = setup_repeated(
        lambda s: setup_state(adapter, s, seed, setup_run, work), work,
        repeats=1 if trace else SETUP_REPEATS,
    )
    adapter.verify(st)
    run_a = Run(origin)
    lake, layer, rb, tracer = work / "lake", {}, None, None
    # a traced run's two copies each run one warm unit of their own (a
    # lifecycle's first cycle also builds its feeds and view), so the
    # process as a whole warms up as long as an untraced one
    warm(st, adapter.warm_units - trace)
    if trace:
        from spans import Tracer

        # the untraced and the traced copy, each on its own fresh lake,
        # run the same steps
        st_a, _ = setup_state(adapter, session_on(session, fresh_lake(work, "lake_a")), seed, setup_run, work)
        lake = fresh_lake(work, "lake_traced")
        st_b, _ = setup_state(adapter, session_on(session, lake), seed, setup_run, work, witness=True)
        adapter.carry(st, st_a)
        adapter.carry(st, st_b)
        warm(st_a, 1)
        warm(st_b, 1)
        commits = CommitLog(lake)
        commits.observe()
        tracer = Tracer(session.spark)
        rb = Run(origin, tracer, observer=commits.observe)
        st_a.run, st_b.run = run_a, rb
        units = measure_interleaved(st_a, st_b, tracer, seconds)
        trace_summary = tracer.summary()
        layer = adapter.layer(st_b, rb, run_a)
        layer.update(boundary_metrics(trace_summary, rb, run_a, commits))
        st = st_b  # the final check and storage_amp look at the traced lake
    final_run = Run(origin)
    storage = {}

    def check_state(when: str) -> None:
        """Untimed: live rows against the model, and storage_amp."""
        state = adapter.final(st)
        if state is None:
            return
        storage[when] = dir_bytes(lake) / max(1, state["arrow_bytes"])
        final_run.call(
            f"state_{when}", "bench", lambda: state["counts"],
            check=lambda c: all(v[0] == v[1] for v in c.values() if isinstance(v, tuple)),
        )

    if not trace:
        # storage_amp is taken after a fixed amount of work (set-up, warm
        # units, the first unit), so it does not move with throughput
        st.run, st_a = run_a, st
        units = measure(st, seconds, after_first=lambda: check_state("first_unit"))
    if len(units) > 1 or trace:
        check_state("end")
    rss_py, rss_jvm = rss_breakdown_mb(session.spark)
    anchor_after = cpu_anchor()

    runs = [setup_run, run_a, final_run] + ([rb] if rb else [])
    attempted = sum(r.attempted for r in runs)
    failed = sum(r.failed for r in runs)
    n_cpu = vm_cpus()
    call_wall = sum(run_a.walls())
    storage_amp = storage.get("first_unit", storage.get("end"))
    named = {
        "setup_s": statistics.median(setup_times),
        "error_rate": failed / attempted if attempted else 0.0,
        "peak_rss_mb": rss_py + rss_jvm,
        "peak_rss_python_mb": rss_py,
        "peak_rss_jvm_mb": rss_jvm,
        "storage_amp": storage_amp,
        "storage_amp_end": storage.get("end", storage_amp),
        # net of steal: a stolen CPU second holds up one of the n CPUs,
        # so a call loses at least its stolen seconds / n of wall (all
        # of them when it ran on one CPU)
        "unit_s": typical_unit(units, lambda r: r.wall_s - r.steal_s / n_cpu),
        "unit_wall_s": typical_unit(units),
        # per unit over the whole run: /proc counts CPU in 10 ms ticks
        "unit_cpu_s": sum(r.cpu_s for u in units for r in u) / len(units),
        "ops_per_s": len(run_a.records) / call_wall if call_wall else None,
        "steal_share": (
            sum(r.steal_s for r in run_a.records) / (n_cpu * call_wall) if call_wall else None
        ),
        **adapter.named(st_a, run_a, units),
    }
    layer.update(
        {
            "session.start_s": engine_s,
            "session.build_s": statistics.median(phases["build"]),
            "session.seed_s": statistics.median(phases["seed"]),
            "session.warmup_s": statistics.median(phases["warmup"]),
        }
    )

    def records(run):
        return [
            [r.op, round(r.start_s, 4), round(r.wall_s, 5), int(r.ok), round(r.cpu_s, 2), round(r.steal_s, 2)]
            for r in run.records
        ]

    report = {
        "lakebench": adapter.name,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "cores": cores(),
        "flush_policy": "local filesystem, no fsync",
        "units_measured": len(units),
        "engine_start_s": engine_s,
        "setup_s_samples": setup_times,
        "anchor_before_s": anchor_before,
        "anchor_after_s": anchor_after,
        "named": named,
        "gate_sides": adapter.gates(st, rb or run_a),
        "failures": [{"op": r.op, **r.info} for run in runs for r in run.records if not r.ok][:20],
        "ops": records(run_a),
        "setup_ops": records(setup_run),
    }
    if trace:
        report["per_layer"] = layer
        report["trace_by_op"] = trace_summary["per_name"]
        tracer.dump(work.parent / f"spans-{adapter.name}-{seed}.json")
        metrics = {
            n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in per_layer_spec().items()
        }
    else:
        metrics = {
            "setup_s": {"value": named["setup_s"], "unit": "s"},
            "unit_s": {"value": named["unit_s"], "unit": "s"},
            "storage_amp": {"value": storage_amp or 0.0, "unit": "ratio"},
            "peak_rss_mb": {"value": named["peak_rss_mb"], "unit": "MB"},
        }
    summary = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return report, summary


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _engine_importable():
        print(
            "lakebench: package interop_datalake_spark not found in the working"
            " directory; run from the repository root",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, str(HERE))
    from harness import sandbox_env, shutdown_spark, work_dir

    # on SIGTERM, still stop the JVM and remove the scratch files below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    work = work_dir(args.workload)
    sandbox_env(work)
    try:
        report, summary = drive(
            ADAPTERS[args.workload], args.seed, args.seconds, bool(args.trace), work
        )
    finally:
        shutdown_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report))
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
