"""Shared pieces of the benchmark worker: spans, the op loop's bookkeeping,
percentiles, on-disk sizes and session start-up."""

from __future__ import annotations

import os
import statistics
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field


class Tracer:
    """In-memory span recorder. Disabled, ``span`` is a no-op, so the
    untraced run pays one generator per call and records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        durations of its direct children (spans are strictly nested, one
        thread, so children never overlap)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own * 1e3
        return out


@dataclass
class Op:
    op_id: str
    kind: str
    ms: float
    rows: int
    ok: bool
    error: str = ""


@dataclass
class OpLog:
    """Closed-loop bookkeeping: one client, the next op starts after the
    previous one (and its check) finished."""

    tracer: Tracer
    spark: object
    ops: list[Op] = field(default_factory=list)
    #: index in ``ops`` where each round (a block of the op mix, a pass
    #: over the pipeline) starts; none marked, the whole loop is one round
    round_starts: list[int] = field(default_factory=list)
    _seq: int = 0
    #: job group of the latest op or set-up step
    last_id: str = ""

    def run(self, kind: str, fn, rows: int = 0, check=None):
        """Time ``fn()`` as one op. ``check(result)`` runs after the clock
        stops and returns True when the output is right; an op that
        raises or fails its check counts as failed. Returns the result
        (None when it raised)."""
        self._seq += 1
        op_id = self.last_id = f"op{self._seq:05d}-{kind}"
        if self.tracer.enabled:
            self.tracer.op_id = op_id
            self.spark.sparkContext.setJobGroup(op_id, kind, False)
        result, error = None, ""
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}"):
                result = fn()
            ok = True
        except Exception as exc:  # an op failure is a measured outcome
            ok = False
            error = "".join(traceback.format_exception_only(exc)).strip()[-500:]
        ms = (time.perf_counter() - t0) * 1e3
        if ok and check is not None:
            try:
                ok = bool(check(result))
                if not ok:
                    error = "output mismatch"
            except Exception as exc:
                ok, error = False, f"check raised: {exc!r}"[-500:]
        self.ops.append(Op(op_id, kind, ms, rows, ok, error))
        if self.tracer.enabled:
            self.tracer.op_id = None
            self.spark.sparkContext.setJobGroup("", "", False)
        return result if ok else None

    def start_round(self) -> None:
        self.round_starts.append(len(self.ops))

    def rounds(self) -> list[list[Op]]:
        starts = [i for i in self.round_starts if i < len(self.ops)] or [0]
        ends = starts[1:] + [len(self.ops)]
        return [self.ops[a:b] for a, b in zip(starts, ends)]

    def summary(self) -> dict:
        """Latency and throughput per round, and their medians over the
        rounds: every round runs the same mix, so a round the host slowed
        down moves the medians less than it moves pooled figures."""
        per_round = []
        for r in self.rounds():
            lat = [o.ms for o in r]
            p90 = percentile(lat, 90)
            per_round.append({
                "ops": len(r),
                "p50_ms": statistics.median(lat),
                "p90_ms": p90,
                "tail_samples": sum(x > p90 for x in lat),
                "rows_per_s": sum(o.rows for o in r) * 1e3 / sum(lat),
            })
        failed = sum(not o.ok for o in self.ops)
        return {
            "attempted": len(self.ops),
            "failed": failed,
            "error_rate": failed / len(self.ops),
            "op_p50_ms": statistics.median(r["p50_ms"] for r in per_round),
            "op_p90_ms": statistics.median(r["p90_ms"] for r in per_round),
            "op_p90_tail_samples": sum(r["tail_samples"] for r in per_round),
            "rows_per_s": statistics.median(r["rows_per_s"] for r in per_round),
            "rounds": per_round,
            "timed_wall_s": sum(o.ms for o in self.ops) / 1e3,
            "rows": sum(o.rows for o in self.ops),
            "ops_by_kind": _count_by(o.kind for o in self.ops),
            "median_ms_by_kind": {
                k: statistics.median(o.ms for o in self.ops if o.kind == k)
                for k in {o.kind for o in self.ops}
            },
            "errors": [f"{o.op_id}: {o.error}" for o in self.ops if not o.ok][:5],
            # every timed op in order, for looking at drift inside a run
            "op_ms": [(o.kind, o.ms) for o in self.ops],
        }


def _count_by(items) -> dict[str, int]:
    out: dict[str, int] = {}
    for k in items:
        out[k] = out.get(k, 0) + 1
    return out


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (statistics.quantiles 'inclusive')."""
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1]


def tree_inodes(root: str) -> dict[int, int]:
    """inode -> size of every file under ``root``. Keyed by inode so hard
    links count once and a commit's new bytes are the inodes it added
    (carried files are hard links)."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            st = os.lstat(os.path.join(d, f))
            out[st.st_ino] = st.st_size
    return out


def tree_bytes(root: str) -> int:
    return sum(tree_inodes(root).values())


def preship_package(spark, work: str) -> None:
    """Ship quiver_spark to the Python workers from a zip under ``work``.

    ``sources.ship_package`` builds the same zip under the system temp
    directory; doing it here first, and marking the session shipped,
    keeps every file the run writes inside its work directory. The zip
    holds the same sources ship_package would ship."""
    import zipfile

    import quiver_spark
    from quiver_spark.sources import quiver_datasource as qds

    shipped = getattr(qds, "_SHIPPED_SESSIONS", None)
    if shipped is None:
        return
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(quiver_spark.__file__)))
    zip_path = os.path.join(work, "quiver_spark_pkg.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, fnames in os.walk(os.path.join(pkg_dir, "quiver_spark")):
            for fn in sorted(fnames):
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, pkg_dir))
    spark.sparkContext.addPyFile(zip_path)
    shipped.add(id(spark))


def duckdb_connect(work: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb_tmp')}'")
    return con


def norm_frame(pdf) -> list[tuple]:
    """Order-insensitive, column-order-insensitive normal form of a pandas
    frame: the repr of every value (the registry's hash-exactness bar)."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return sorted(tuple(repr(x) for x in r) for r in pdf.itertuples(index=False))
