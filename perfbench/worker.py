"""One benchmark run inside its own process (started by ``run.py``).

Writes one JSON document to ``--out``: the end-to-end metrics (untraced
run) or the per-layer metrics (traced run), plus a record of the run.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import (  # noqa: E402
    OpLog,
    Tracer,
    duckdb_connect,
    preship_package,
)

#: the names the per-layer metrics are built from (BENCHMARK.json lists
#: every resulting metric; ``run.py --smoke`` checks the two agree)
CODECS = (
    "none", "lz4", "zstd", "snappy", "rle", "dict", "one_value", "freq",
    "bitpacking", "delta_bitpacking", "patas",
)
DML = ("delete_where", "update_where", "merge_upsert", "compact", "vacuum")
SCAN_KINDS = ("full", "narrow", "range", "point", "count", "version",
              "changes", "live", "many", "verify_read")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    from perfbench.workloads import WORKLOADS, Ctx

    wl = WORKLOADS[args.workload]()
    tracer = Tracer(bool(args.trace))
    phases: dict[str, float] = {}

    # -- set-up: session + jar, fixtures, warm-up ------------------------
    from pyspark import __version__ as spark_version

    from quiver_spark.jvm import attach_jar, jar_fingerprint
    from quiver_spark.session import get_spark

    with tracer.span("session.start"):
        spark = get_spark("perfbench")
        preship_package(spark, args.work)
        jar_ok = attach_jar(spark)
    phases["session.start_s"] = time.perf_counter() - _T0
    store_prev = _install_pointer_timer(tracer) if tracer.enabled else None

    con = duckdb_connect(args.work)
    log = OpLog(tracer, spark)
    ctx = Ctx(spark, tracer, log, con, args.work, args.seed, args.scale)
    t = time.perf_counter()
    with tracer.span("setup.fixture"):
        wl.build(ctx)
    phases["setup.fixture_s"] = time.perf_counter() - t - ctx.verify_s
    v0 = ctx.verify_s
    t = time.perf_counter()
    with tracer.span("setup.warmup"):
        try:
            wl.warmup(ctx)
        except Exception as exc:  # a broken op shape is a failed check
            ctx.verify(f"{wl.name}:warmup raised {exc!r}"[:300], False)
    phases["setup.warmup_s"] = time.perf_counter() - t - (ctx.verify_s - v0)
    setup_s = sum(phases.values())
    ctx.scan_calls = ctx.jvm_routed = 0
    n_spans_setup = len(tracer.spans)

    # -- timed closed loop -------------------------------------------------
    t_loop = time.perf_counter()
    steps = 0
    while not wl.done(time.perf_counter() - t_loop, args.seconds):
        wl.step(ctx)
        steps += 1
    loop_wall = time.perf_counter() - t_loop
    wl.finish(ctx)

    s = log.summary()
    rows_per_s = s["rows_per_s"]
    failed = s["failed"] + len(ctx.check_failures)
    attempted = s["attempted"] + ctx.checks
    e2e = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (rows_per_s, "rows/s"),
        "op_p50_ms": (s["op_p50_ms"], "ms"),
        "op_p90_ms": (s["op_p90_ms"], "ms"),
        "storage_amp": (wl.storage_amp, "ratio"),
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": int(os.environ.get("SPARK_GRAFT_CPUS", "0")),
        "scale": args.scale,
        "sf": 0.1 * args.scale,  # lineitem rows relative to TPC-H sf1
        "spark_version": spark_version,
        "jar_fingerprint": jar_fingerprint(),
        "jar_attached": jar_ok,
        "run_seconds": args.seconds,
        "loop_wall_s": loop_wall,
        "steps": steps,
        "verify_s": ctx.verify_s,
        "error_rate": failed / attempted,
        "check_failures": ctx.check_failures,
        **{k: v for k, v in s.items() if k not in ("failed", "attempted")},
        "phases": phases,
    }
    layers = {}
    if tracer.enabled:
        layers = _layer_metrics(ctx, wl, tracer, phases, rows_per_s, n_spans_setup)
        from quiver_spark.sources.pointer_store import set_pointer_store

        set_pointer_store(store_prev)
        record["self_ms"] = tracer.self_ms()
    spark.stop()  # the event log is complete once this returns
    if tracer.enabled:
        layers.update(_spark_metrics(ctx, tracer, args.work))
        spans_path = os.path.join(os.path.dirname(args.out), "spans.json")
        with open(spans_path, "w") as f:
            json.dump(tracer.spans, f)
        record["spans_file"] = spans_path
    with open(args.out, "w") as f:
        json.dump(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "e2e": e2e,
                "layers": layers,
                "record": record,
            },
            f,
        )
    return 0


class _TimedStore:
    """Pointer-store wrapper counting and timing the driver-side calls."""

    def __init__(self, inner, tracer):
        self._inner = inner
        self._tracer = tracer

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if not callable(attr):
            return attr

        def timed(*a, **kw):
            with self._tracer.span("sources.pointer_store"):
                return attr(*a, **kw)

        return timed


def _install_pointer_timer(tracer):
    from quiver_spark.sources.pointer_store import get_pointer_store, set_pointer_store

    return set_pointer_store(_TimedStore(get_pointer_store(), tracer))


def _mean_span_ms(tracer, name: str, start: int = 0) -> float:
    """Mean duration of the spans called ``name`` in the timed loop (spans
    from ``start`` on), or of those in set-up when the loop has none."""
    def durs(spans):
        return [(s["end"] - s["start"]) * 1e3 for s in spans if s["name"] == name]

    d = durs(tracer.spans[start:]) or durs(tracer.spans[:start])
    return statistics.mean(d) if d else 0.0


def _layer_metrics(ctx, wl, tracer, phases, rows_per_s, n0) -> dict:
    """Per-layer numbers measured in the benchmark process (the Spark
    event-log ones are added after the session stops)."""
    from perfbench.workloads import pages_by_codec

    ops = ctx.log.ops
    n_ops = len(ops)
    loop_spans = tracer.spans[n0:]
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (phases["session.start_s"], "s"),
        "setup.fixture_s": (phases["setup.fixture_s"], "s"),
        "setup.warmup_s": (phases["setup.warmup_s"], "s"),
        "sources.scan_call_ms": (_mean_span_ms(tracer, "sources.scan", n0), "ms"),
        "sources.jvm_route_frac": (
            ctx.jvm_routed / ctx.scan_calls if ctx.scan_calls else 0.0, "ratio"),
        "sources.write_call_ms": (_mean_span_ms(tracer, "sources.write", n0), "ms"),
        "sources.manifest.load_ms": (
            statistics.mean(ctx.layer.get("manifest.load_ms") or [0.0]), "ms"),
        "sources.manifest.bytes": (ctx.layer.get("manifest.bytes", 0), "bytes"),
    }
    # calls made inside the timed ops (not the benchmark's own pointer reads)
    ps = [s for s in loop_spans if s["name"] == "sources.pointer_store" and s["op"]]
    m["sources.pointer_store.calls"] = (len(ps) / n_ops, "count")
    m["sources.pointer_store.ms"] = (
        sum(s["end"] - s["start"] for s in ps) * 1e3 / n_ops, "ms")
    for op in DML:
        m[f"maintenance.{op}_ms"] = (
            _mean_span_ms(tracer, f"maintenance.{op}", n0), "ms")
    reps = [r for r in getattr(wl, "dml_reports", []) if "files_carried" in r]
    m["maintenance.files_rewritten"] = (
        statistics.mean(r.get("files_rewritten", 0) for r in reps) if reps else 0.0,
        "count")
    m["maintenance.files_carried"] = (
        statistics.mean(r.get("files_carried", 0) for r in reps) if reps else 0.0,
        "count")
    user = getattr(wl, "user_bytes", 0)
    m["maintenance.write_amp"] = (
        sum(ctx.new_bytes.values()) / user if user else 0.0, "ratio")
    # format: the Python codec cascade on the workload's own batch
    enc, dec = _format_bench(wl.sample_batch, ctx.work)
    m["format.encode_mb_per_s"] = (enc, "MB/s")
    m["format.decode_mb_per_s"] = (dec, "MB/s")
    pages = pages_by_codec(wl.pages_root) if wl.pages_root else {}
    for c in CODECS:
        m[f"format.pages.{c}"] = (pages.get(c, 0), "count")
    # operators: median latency per pipeline query, and exchanges per pass
    from perfbench.workloads import PIPELINE_QUERIES

    for q in PIPELINE_QUERIES:
        lat = [o.ms for o in ops if o.kind == q]
        m[f"operators.{q}.ms"] = (statistics.median(lat) if lat else 0.0, "ms")
    m["operators.exchanges"] = (sum(getattr(wl, "exchanges", {}).values()), "count")
    m["trace.rows_per_s"] = (rows_per_s, "rows/s")
    return m


def _format_bench(table, work: str, reps: int = 3) -> tuple[float, float]:
    from quiver_spark.format.reader import read_table
    from quiver_spark.format.writer import write_table

    path = os.path.join(work, "format_bench.quiver")
    mb = table.nbytes / 1e6
    enc, dec = [], []
    for _ in range(reps):
        t = time.perf_counter()
        write_table(table, path)
        enc.append(time.perf_counter() - t)
        t = time.perf_counter()
        read_table(path)
        dec.append(time.perf_counter() - t)
    return mb / statistics.median(enc), mb / statistics.median(dec)


def _spark_metrics(ctx, tracer, work: str) -> dict:
    """Per-op Spark accounting from the event log of this run."""
    from perfbench.eventlog import GroupStats, parse

    logs = glob.glob(os.path.join(work, "eventlog", "*"))
    groups = parse(logs[0]) if logs else {}
    ops = ctx.log.ops
    n = len(ops)
    op_groups = [groups.get(o.op_id, GroupStats()) for o in ops]

    def per_op(name: str) -> float:
        return sum(getattr(g, name) for g in op_groups) / n

    plan_ms: dict[str, float] = {}
    for s in tracer.spans:
        if s["name"] == "spark.plan" and s["op"]:
            plan_ms[s["op"]] = plan_ms.get(s["op"], 0.0) + (s["end"] - s["start"]) * 1e3
    plan = [plan_ms.get(o.op_id, 0.0) for o in ops]
    # the per-job floor: op wall outside every stage the op ran
    floor = [o.ms - g.stage_active_ms() for o, g in zip(ops, op_groups)]
    # JVM scans: the scan-shaped ops; rows matched over rows read for the
    # filter and lookup ops
    scan_ops = [o for o in ops if o.kind in SCAN_KINDS]
    scan_groups = [groups.get(o.op_id, GroupStats()) for o in scan_ops]
    useful = sum(ctx.useful_rows.get(o.op_id, 0) for o in scan_ops)
    useful_read = sum(
        g.input_records for o, g in zip(scan_ops, scan_groups) if o.op_id in ctx.useful_rows
    )
    per_scan = max(len(scan_ops), 1)
    # JVM writes: timed appends, and the set-up writes of the fixtures
    write_ids = [o.op_id for o in ops if o.kind == "append"] + [
        gid for gid, kind in ctx.setup_groups if kind in ("write", "append")
    ]
    per_write = max(len(write_ids), 1)
    write_cpu = sum(groups.get(gid, GroupStats()).cpu_ms for gid in write_ids)
    write_bytes = sum(ctx.new_bytes.get(gid, 0) for gid in write_ids)
    return {
        "spark.jobs": (per_op("jobs"), "count"),
        "spark.tasks": (per_op("tasks"), "count"),
        "spark.gc_ms": (per_op("gc_ms"), "ms"),
        "spark.scheduler_delay_ms": (per_op("scheduler_delay_ms"), "ms"),
        "spark.catalyst_plan_ms": (statistics.mean(plan), "ms"),
        "spark.driver_floor_ms": (statistics.mean(floor), "ms"),
        "spark.shuffle_write_bytes": (per_op("shuffle_write_bytes"), "bytes"),
        "spark.shuffle_fetch_wait_ms": (per_op("shuffle_fetch_wait_ms"), "ms"),
        "spark.python_bytes": (per_op("python_bytes"), "bytes"),
        "jvm.scan.tasks": (sum(g.input_tasks for g in scan_groups) / per_scan, "count"),
        "jvm.scan.cpu_ms": (sum(g.input_cpu_ms for g in scan_groups) / per_scan, "ms"),
        "jvm.scan.input_bytes": (sum(g.input_bytes for g in scan_groups) / per_scan, "bytes"),
        "jvm.scan.records_read": (
            sum(g.input_records for g in scan_groups) / per_scan, "count"),
        "jvm.scan.rows_out_per_read": (useful / useful_read if useful_read else 0.0, "ratio"),
        "jvm.write.cpu_ms": (write_cpu / per_write, "ms"),
        "jvm.write.bytes_out": (write_bytes / per_write, "bytes"),
    }


if __name__ == "__main__":
    sys.exit(main())
