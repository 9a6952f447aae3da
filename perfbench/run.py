"""Per-change benchmark of quiver-spark: one workload, one seed, one run.

    python3 perfbench/run.py --workload scan_mix --seed 1 --seconds 13 --trace 0

Run from the repository root. The run starts the workload in its own
process group (``worker.py``: a local[nproc] Spark session, seeded
fixtures, warm-up, a timed closed loop with one client), samples the
resident memory of that group from /proc, then stops and reaps every
process it started. Standard output gets one record line with every
measured number, then, as its last line, the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

Every file the run writes stays under ``.perfbench/`` in the current
directory: a work directory removed at exit, and the run's output
(result, worker log, spans of a traced run) kept under ``.perfbench/out``.

``--smoke`` runs every workload at a tiny scale with and without tracing
and checks that each metric BENCHMARK.json names is emitted with its unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: the whole run (set-up, loop, verification, shutdown) must end by then
DEADLINE_S = 170.0
#: driver heap: the fixtures are tens of MB; a small heap keeps the
#: memory metric from tracking how far G1 happened to grow it
DRIVER_MEMORY = "2g"
#: every workload the worker implements; BENCHMARK.json gates on a subset
WORKLOADS = ("scan_mix", "ingest_commit", "llm_pipeline")


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:  # field 5 of stat: process group
            pids.append(int(d))
    return pids


def _rss_bytes(pids) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


def _reap(pgid: int) -> None:
    """SIGTERM, then SIGKILL, the process group; return once it is empty."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + wait_s
        while _group_pids(pgid) and time.monotonic() < end:
            time.sleep(0.05)
    if _group_pids(pgid):
        raise RuntimeError(f"process group {pgid} survived SIGKILL")


def _env(work: str, trace: bool) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    confs = [
        "spark.ui.showConsoleProgress=false",
        f"spark.local.dir={os.path.join(work, 'spark-local')}",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    env.update(
        {
            "PYTHONPATH": ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(_cores()),
            "QUIVER_DRIVER_MEMORY": DRIVER_MEMORY,
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {shlex.quote(c)}" for c in confs)
            + " pyspark-shell",
            "PYTHONDONTWRITEBYTECODE": "1",
        }
    )
    env.pop("QUIVER_TRACE", None)
    return env


def run_once(workload: str, seed: int, seconds: float, trace: bool,
             scale: float) -> dict:
    """One run in a fresh work directory; returns the worker's result
    with peak_rss_mb added. Raises on failure. ``scale`` sizes the inputs:
    1.0 is sf0.1-sized lineitem (600k rows); the smoke uses 0.01."""
    base = os.path.join(os.getcwd(), ".perfbench")
    tag = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
    work = os.path.join(base, "work", tag)
    out_dir = os.path.join(base, "out", tag)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir)
    out = os.path.join(out_dir, "result.json")
    log_path = os.path.join(out_dir, "worker.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(int(trace)), "--scale", str(scale),
        "--work", work, "--out", out,
    ]
    peak = 0
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                cmd, cwd=work, env=_env(work, trace), stdin=subprocess.DEVNULL,
                stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
            )
            deadline = time.monotonic() + DEADLINE_S
            try:
                while proc.poll() is None:
                    if time.monotonic() > deadline:
                        raise RuntimeError(f"{workload}: run exceeded {DEADLINE_S:.0f} s")
                    peak = max(peak, _rss_bytes(_group_pids(proc.pid)))
                    time.sleep(0.2)
            finally:
                _reap(proc.pid)
                proc.wait()
        if proc.returncode != 0 or not os.path.exists(out):
            with open(log_path) as f:
                tail = f.read()[-4000:]
            raise RuntimeError(
                f"{workload}: worker exited with {proc.returncode}\n{tail}"
            )
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["e2e"]["peak_rss_mb"] = (peak / 2**20, "MB")
    res["record"]["peak_rss_mb"] = peak / 2**20
    res["record"]["out_dir"] = out_dir
    return res


def _metrics(pairs: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in pairs.items()}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def smoke(seed: int) -> int:
    """Tiny-scale pass over every workload, both trace modes: each metric
    BENCHMARK.json names must come out with its declared unit."""
    spec = _spec()
    bad = []
    for wl in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run_once(wl, seed, 2.0, bool(trace), scale=0.01)
            got = _metrics(res["layers"] if trace else res["e2e"])
            for m in spec[key]:
                if m["name"] not in got:
                    bad.append(f"{wl}/trace={trace}: missing {m['name']}")
                elif got[m["name"]]["unit"] != m["unit"]:
                    bad.append(f"{wl}/trace={trace}: {m['name']} unit "
                               f"{got[m['name']]['unit']} != {m['unit']}")
            # every op runs Spark jobs: zero means the event log went unread
            if trace and got.get("spark.jobs", {}).get("value", 0) <= 0:
                bad.append(f"{wl}/trace=1: spark.jobs is not above 0")
            extra = set(got) - {m["name"] for m in spec[key]}
            bad += [f"{wl}/trace={trace}: unlisted metric {x}" for x in sorted(extra)]
            if not res["correct"]:
                bad.append(f"{wl}/trace={trace}: incorrect: {res['record']['errors']}"
                           f" {res['record']['check_failures']}")
            print(f"smoke {wl} trace={trace}: {len(got)} metrics", file=sys.stderr)
    for b in bad:
        print("SMOKE FAIL", b, file=sys.stderr)
    print(json.dumps({"smoke_ok": not bad, "problems": len(bad)}))
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="scan_mix")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "quiver_spark", "__init__.py")):
        print("perfbench: quiver_spark sources not found beside perfbench/",
              file=sys.stderr)
        return 2
    if args.smoke:
        return smoke(args.seed)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    res = run_once(args.workload, args.seed, args.seconds, bool(args.trace), scale=1.0)
    metrics = _metrics(res["layers"] if args.trace else res["e2e"])
    # the record carries the end-to-end numbers in both modes (traced ones
    # measure the tracing overhead)
    record = dict(res["record"], end_to_end=_metrics(res["e2e"]))
    print(json.dumps({"record": record}, default=str))
    print(
        json.dumps(
            {
                "correct": res["correct"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
