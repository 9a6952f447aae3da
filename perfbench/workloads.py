"""The three benchmark workloads.

Each workload has four phases, driven by ``worker.py``:

- ``build``: generate the seeded inputs and convert them into tables
  through the public write APIs (counted in ``setup_s``);
- ``warmup``: run every op shape once and check its output against DuckDB
  over the generated inputs (counted in ``setup_s``; the checks feed
  ``error_rate``);
- ``step``: one unit of the timed closed loop (an op, a commit cycle, or a
  pass over the pipeline queries); every op's output is checked;
- ``finish``: untimed end-of-run measurements (``storage_amp``).

Workloads call the program only through its public functions, each call
wrapped in a span named after the module it enters.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.harness import norm_frame, tree_bytes, tree_inodes

#: order-insensitive, exact checksum of a lineitem-shaped relation: one
#: column per input column, doubles summed as DECIMAL so both engines
#: agree to the digit
_CK_SQL = (
    "count(*), sum(l_orderkey), sum(l_partkey), sum(l_suppkey), "
    "sum(l_linenumber), sum(CAST(l_quantity AS DECIMAL(18,2))), "
    "sum(CAST(l_extendedprice AS DECIMAL(18,2))), "
    "sum(CAST(l_discount AS DECIMAL(18,2))), sum(CAST(l_tax AS DECIMAL(18,2))), "
    "sum(ascii(l_returnflag)), sum(ascii(l_linestatus)), "
    "sum(datediff('day', DATE '1970-01-01', l_shipdate))"
)


def _ck_spark():
    from pyspark.sql import functions as F

    dec = "decimal(18,2)"
    return [
        F.count(F.lit(1)),
        F.sum("l_orderkey"),
        F.sum("l_partkey"),
        F.sum("l_suppkey"),
        F.sum("l_linenumber"),
        F.sum(F.col("l_quantity").cast(dec)),
        F.sum(F.col("l_extendedprice").cast(dec)),
        F.sum(F.col("l_discount").cast(dec)),
        F.sum(F.col("l_tax").cast(dec)),
        F.sum(F.ascii("l_returnflag")),
        F.sum(F.ascii("l_linestatus")),
        F.sum(F.unix_date("l_shipdate")),
    ]


def _rows(rows) -> list[tuple]:
    return sorted(tuple(r) for r in rows)


class Ctx:
    """Per-run state shared by the worker and the workload."""

    def __init__(self, spark, tracer, log, con, work, seed, scale):
        self.spark = spark
        self.tr = tracer
        self.log = log
        self.con = con
        self.work = work
        self.scale = scale
        self.rng = np.random.default_rng(seed)
        self.verify_s = 0.0  # DuckDB/oracle time spent inside setup phases
        self.checks = 0  # warm-up verifications of op shapes
        self.check_failures: list[str] = []
        self.scan_calls = 0
        self.jvm_routed = 0
        self.useful_rows: dict[str, int] = {}  # op_id -> rows the op matched
        self.layer: dict[str, object] = {}  # manifest loads measured after commits
        self.new_bytes: dict[str, int] = {}  # job group -> bytes it committed
        self.setup_groups: list[tuple[str, str]] = []  # (job group, kind)

    def rows(self, n: float) -> int:
        return max(int(n * self.scale), 4)

    def expect(self, sql: str, fetch="one"):
        """DuckDB answer over the generated inputs (time kept out of
        setup_s)."""
        t0 = time.perf_counter()
        cur = self.con.execute(sql)
        out = cur.fetchone() if fetch == "one" else cur.fetchall()
        self.verify_s += time.perf_counter() - t0
        return out

    def verify(self, name: str, ok: bool) -> None:
        self.checks += 1
        if not ok:
            self.check_failures.append(name)

    # -- traced call helpers ------------------------------------------

    def untimed(self, kind: str, fn):
        """A set-up step, not a timed op. In a traced run its Spark jobs
        get a job group of their own so the event log can attribute them."""
        if not self.tr.enabled:
            return fn()
        gid = f"setup{len(self.setup_groups) + 1:04d}-{kind}"
        self.setup_groups.append((gid, kind))
        self.log.last_id = self.tr.op_id = gid
        self.spark.sparkContext.setJobGroup(gid, kind, False)
        try:
            return fn()
        finally:
            self.tr.op_id = None
            self.spark.sparkContext.setJobGroup("", "", False)

    def after_commit(self, table: str, before: dict) -> None:
        """Traced runs only: the cost and size of loading the manifest the
        commit left, and the bytes it added (new inodes: carried files are
        hard links)."""
        if not self.tr.enabled:
            return
        from quiver_spark.sources import manifest

        root = _data_root(table)
        t0 = time.perf_counter()
        manifest.load_manifest(root)
        self.layer.setdefault("manifest.load_ms", []).append(
            (time.perf_counter() - t0) * 1e3
        )
        try:
            self.layer["manifest.bytes"] = os.path.getsize(manifest.manifest_path(root))
        except OSError:
            pass
        after = tree_inodes(table)
        self.new_bytes[self.log.last_id] = sum(
            size for ino, size in after.items() if ino not in before
        )

    def scan(self, path: str, **opts):
        from quiver_spark import sources

        df = self.tr.call("sources.scan", sources.scan, self.spark, path, **opts)
        if self.tr.enabled:
            self.scan_calls += 1
            plan = df._jdf.queryExecution().analyzed().toString()
            self.jvm_routed += "quiverjvm" in plan
        return df

    def act(self, df, fn):
        """Run an action; in a traced run, plan first so Catalyst time is
        its own span."""
        if self.tr.enabled:
            with self.tr.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with self.tr.span("spark.execute"):
            return fn(df)

    def write(self, df, path: str, **kw):
        from quiver_spark import sources

        return self.tr.call("sources.write", sources.write, df, path, **kw)


def _data_root(table: str) -> str:
    from quiver_spark.sources.pointer_store import get_pointer_store

    gen_name = get_pointer_store().read_pointer(table)
    return os.path.join(table, gen_name) if gen_name else table


def _quiver_files(root: str) -> list[str]:
    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        out += [os.path.join(d, f) for f in files if f.endswith(".quiver")]
    return sorted(out)


def pages_by_codec(root: str) -> dict[str, int]:
    from quiver_spark.format.stat import stat_file

    counts: dict[str, int] = {}
    for f in _quiver_files(root):
        for pages in stat_file(f).values():
            for p in pages:
                counts[p.codec] = counts.get(p.codec, 0) + 1
    return counts


# ---------------------------------------------------------------------------
# scan_mix
# ---------------------------------------------------------------------------

#: one block of the op mix; each block is shuffled by the seed, so every
#: run sees the same proportions
SCAN_BLOCK = (
    ["point"] * 5
    + ["range"] * 5
    + ["narrow"] * 3
    + ["count"] * 2
    + ["full"] * 2
    + ["version", "changes", "live", "many"]
)

#: untimed blocks run in the warm-up: the first timed blocks ran 10-25 %
#: slower than later ones without them (JIT and code generation still
#: settling)
WARM_BLOCKS = 1
#: the loop times at least this many blocks, so the median over blocks
#: can pass over one the host slowed down even when blocks run slow
MIN_BLOCKS = 3


class ScanMix:
    name = "scan_mix"

    def build(self, ctx: Ctx) -> None:
        rng, work, spark = ctx.rng, ctx.work, ctx.spark
        self.n = ctx.rows(600_000)
        self.key_offset = int(rng.integers(1, 1000)) * 10_000_000
        main = gen.sort_by_shipdate(gen.lineitem(rng, self.n, self.key_offset))
        self.main_tbl = main
        p = os.path.join(work, "main.parquet")
        pq.write_table(main, p, row_group_size=max(self.n // 4, 1))
        self.main = os.path.join(work, "t_main")
        # sorted input, one file per row group: every page covers a
        # narrow l_shipdate range (zone maps) and a bloom per page covers
        # l_orderkey
        ctx.untimed("write", lambda: ctx.write(
            spark.read.parquet(p),
            self.main,
            mode="overwrite",
            bloom_columns="l_orderkey",
            max_rows_per_file=max(self.n // 4, 1),
        ))
        ctx.after_commit(self.main, {})
        # many small files: planning and split packing
        n_many = ctx.rows(128_000)
        self.many_tbl = gen.lineitem(rng, n_many, 0)
        pm = os.path.join(work, "many.parquet")
        pq.write_table(self.many_tbl, pm)
        self.many = os.path.join(work, "t_many")
        ctx.untimed("write", lambda: ctx.write(
            spark.read.parquet(pm).repartition(min(128, n_many)),
            self.many,
            mode="overwrite",
        ))
        ctx.after_commit(self.many, {})
        # history, built through the maintenance API: a compacted first
        # generation, a delete generation (both retained), then an append
        # after a recorded commit cursor. (update_where and merge_upsert
        # are timed by ingest_commit.)
        from quiver_spark import maintenance

        h = self.hist = Replica(ctx, os.path.join(work, "t_hist"), "hist_t", 10**9)
        h.create(h.batch(ctx.rows(15_000)))
        h.append(h.batch(ctx.rows(15_000)), timed=False)
        h.compact(timed=False)
        ctx.con.execute("CREATE TABLE v1_t AS SELECT * FROM hist_t")
        self.v1_rows = ctx.con.execute("SELECT count(*) FROM v1_t").fetchone()[0]
        h.dml("delete", timed=False, keep_generations="8")
        h.vacuum(timed=False, keep=8)
        self.cursor = ctx.tr.call(
            "maintenance.current_commit", maintenance.current_commit, h.path
        )
        self.a1 = h.batch(ctx.rows(5_000))
        h.append(self.a1, timed=False)
        self.dml_reports = h.reports
        self.user_bytes = h.user_bytes + main.nbytes + self.many_tbl.nbytes
        for name, t in (
            ("main_t", main),
            ("many_t", self.many_tbl),
            ("a1_t", self.a1),
        ):
            ctx.con.register(name, t)
        self.hist_rows = ctx.con.execute("SELECT count(*) FROM hist_t").fetchone()[0]
        self._warm_plan = self._make_plan(ctx, WARM_BLOCKS)
        self._plan = self._make_plan(ctx, 100)
        self._next = 0
        self._memo: dict[tuple, object] = {}
        self.storage_amp = tree_bytes(self.main) / main.nbytes
        self.sample_batch = main.slice(0, min(self.n, 100_000))
        self.pages_root = self.main

    def _make_plan(self, ctx: Ctx, blocks: int) -> list[tuple]:
        rng = ctx.rng
        plan = []
        for _ in range(blocks):
            for kind in rng.permutation(SCAN_BLOCK):
                plan.append(self._params(rng, str(kind)))
        return plan

    def _params(self, rng, kind: str) -> tuple:
        if kind == "point":
            return (kind, self.key_offset + int(rng.integers(0, self.n // 4)))
        if kind == "range":
            span = int(rng.integers(gen.SHIP_DAYS // 100, gen.SHIP_DAYS // 10 + 1))
            d0 = gen.SHIP_EPOCH + np.timedelta64(
                int(rng.integers(0, gen.SHIP_DAYS - span)), "D"
            )
            return (kind, str(d0), str(d0 + np.timedelta64(span, "D")))
        return (kind,)

    # an op: (spark fn, DuckDB expected fn, table rows the op answers over)
    def _op(self, ctx: Ctx, params: tuple):
        from pyspark.sql import functions as F

        kind = params[0]
        if kind == "full":
            return (
                lambda: ctx.act(ctx.scan(self.main).agg(*_ck_spark()), _one),
                lambda: ctx.expect(f"SELECT {_CK_SQL} FROM main_t"),
                self.n,
            )
        if kind == "narrow":
            cols = "l_returnflag,l_linestatus,l_quantity,l_extendedprice"
            agg = [
                F.count(F.lit(1)),
                F.sum(F.col("l_quantity").cast("decimal(18,2)")),
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")),
            ]
            return (
                lambda: _rows(
                    ctx.act(
                        ctx.scan(self.main, columns=cols)
                        .groupBy("l_returnflag", "l_linestatus")
                        .agg(*agg),
                        _all,
                    )
                ),
                lambda: _rows(
                    ctx.expect(
                        "SELECT l_returnflag, l_linestatus, count(*), "
                        "sum(CAST(l_quantity AS DECIMAL(18,2))), "
                        "sum(CAST(l_extendedprice AS DECIMAL(18,2))) "
                        "FROM main_t GROUP BY 1, 2",
                        fetch="all",
                    )
                ),
                self.n,
            )
        if kind == "range":
            pred = (
                f"l_shipdate >= DATE '{params[1]}' AND l_shipdate < DATE '{params[2]}'"
            )
            return (
                lambda: ctx.act(
                    ctx.scan(self.main)
                    .filter(F.expr(pred))
                    .agg(
                        F.count(F.lit(1)),
                        F.sum("l_orderkey"),
                        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")),
                    ),
                    _one,
                ),
                lambda: ctx.expect(
                    "SELECT count(*), sum(l_orderkey), "
                    "sum(CAST(l_extendedprice AS DECIMAL(18,2))) "
                    f"FROM main_t WHERE {pred}"
                ),
                self.n,
            )
        if kind == "point":
            pred = f"l_orderkey = {params[1]}"
            return (
                lambda: _rows(
                    ctx.act(ctx.scan(self.main).filter(F.expr(pred)), _all)
                ),
                lambda: _rows(
                    ctx.expect(
                        "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, "
                        "l_quantity, l_extendedprice, l_discount, l_tax, "
                        "l_returnflag, l_linestatus, l_shipdate "
                        f"FROM main_t WHERE {pred}",
                        fetch="all",
                    )
                ),
                self.n,
            )
        if kind == "count":
            return (
                lambda: ctx.act(ctx.scan(self.main).agg(F.count(F.lit(1))), _one),
                lambda: (self.n,),
                self.n,
            )
        if kind == "version":
            return (
                lambda: self.hist.checksum(version="1"),
                lambda: ctx.expect(f"SELECT {_CK_SQL} FROM v1_t"),
                self.v1_rows,
            )
        if kind == "changes":
            return (
                lambda: self.hist.checksum(changes_since=str(self.cursor)),
                lambda: ctx.expect(f"SELECT {_CK_SQL} FROM a1_t"),
                self.a1.num_rows,
            )
        if kind == "live":
            return (self.hist.checksum, self.hist.expected, self.hist_rows)
        if kind == "many":
            return (
                lambda: ctx.act(ctx.scan(self.many).agg(*_ck_spark()), _one),
                lambda: ctx.expect(f"SELECT {_CK_SQL} FROM many_t"),
                self.many_tbl.num_rows,
            )
        raise ValueError(kind)

    def _expected(self, ctx: Ctx, params: tuple, exp_fn):
        if params not in self._memo:
            self._memo[params] = exp_fn()
        return self._memo[params]

    def warmup(self, ctx: Ctx) -> None:
        """WARM_BLOCKS whole blocks of the mix (every op shape is in each),
        untimed, each op checked against DuckDB."""
        for params in self._warm_plan:
            fn, exp_fn, _rows_n = self._op(ctx, params)
            ctx.verify(f"scan_mix:{params[0]}", fn() == self._expected(ctx, params, exp_fn))

    def step(self, ctx: Ctx) -> None:
        if self._next % len(SCAN_BLOCK) == 0:
            ctx.log.start_round()
        params = self._plan[self._next % len(self._plan)]
        self._next += 1
        fn, exp_fn, rows_n = self._op(ctx, params)
        out = ctx.log.run(
            params[0],
            fn,
            rows=rows_n,
            check=lambda got: got == self._expected(ctx, params, exp_fn),
        )
        if out is not None and params[0] in ("range", "point"):
            op_id = ctx.log.ops[-1].op_id
            ctx.useful_rows[op_id] = out[0] if params[0] == "range" else len(out)

    def done(self, elapsed: float, seconds: float) -> bool:
        """Whole blocks only, so every run times the same mix."""
        return (
            elapsed >= seconds
            and self._next % len(SCAN_BLOCK) == 0
            and self._next >= MIN_BLOCKS * len(SCAN_BLOCK)
        )

    def finish(self, ctx: Ctx) -> None:
        pass


def _one(df):
    return tuple(df.collect()[0])


def _all(df):
    return df.collect()


# ---------------------------------------------------------------------------
# replicated tables (commits applied to the quiver table and to DuckDB)
# ---------------------------------------------------------------------------


class Replica:
    """A quiver table and its DuckDB twin. Every commit goes through the
    program's public write or maintenance API and is then replayed in
    DuckDB, so the live state can be checked after any commit."""

    def __init__(self, ctx: Ctx, path: str, name: str, key_offset: int):
        self.ctx, self.path, self.name = ctx, path, name
        self.next_key = key_offset
        self.user_bytes = 0  # Arrow bytes of every row submitted
        self.reports: list[dict] = []  # what each DML call returned
        self.first_key = key_offset

    def batch(self, n: int) -> pa.Table:
        t = gen.lineitem(self.ctx.rng, n, self.next_key)
        self.next_key += n // 4 + 1
        return t

    def _replay(self, sql: str, batch: pa.Table | None = None) -> None:
        con = self.ctx.con
        if batch is not None:
            con.register("batch", batch)
        con.execute(sql.format(t=self.name))
        if batch is not None:
            con.unregister("batch")

    def _commit(self, kind: str, fn, rows: int, replay: tuple, timed: bool) -> None:
        """Run one commit (timed op or set-up step); on success replay it
        in DuckDB (``replay``: SQL, and the batch it reads, if any)."""
        ctx = self.ctx
        before = tree_inodes(self.path) if ctx.tr.enabled and os.path.isdir(self.path) else {}
        out = ctx.log.run(kind, fn, rows=rows) if timed else ctx.untimed(kind, fn)
        if out is None:
            return  # failed op: counted; the twin keeps the last good state
        if isinstance(out, dict):
            self.reports.append(out)
        if replay:
            self._replay(*replay)
        ctx.after_commit(self.path, before)

    def create(self, tbl: pa.Table) -> None:
        ctx = self.ctx
        self.created_keys = tbl.num_rows // 4  # keys first_key, first_key + 1, ...
        self.user_bytes += tbl.nbytes
        ctx.untimed(
            "write",
            lambda: ctx.write(ctx.spark.createDataFrame(tbl), self.path, mode="overwrite"),
        )
        ctx.con.register("batch", tbl)
        ctx.con.execute(f"CREATE TABLE {self.name} AS SELECT * FROM batch")
        ctx.con.unregister("batch")
        ctx.after_commit(self.path, {})

    def append(self, tbl: pa.Table, timed: bool) -> None:
        ctx = self.ctx
        self.user_bytes += tbl.nbytes
        self._commit(
            "append",
            lambda: ctx.write(ctx.spark.createDataFrame(tbl), self.path, mode="append"),
            tbl.num_rows,
            ("INSERT INTO {t} SELECT * FROM batch", tbl),
            timed,
        )

    def dml(self, kind: str, timed: bool, **options) -> None:
        from quiver_spark import maintenance

        ctx = self.ctx
        # anchored on a key of the created batch, so the predicate matches
        # rows (a DML that matches none commits no new generation)
        r = self.first_key + int(ctx.rng.integers(0, min(50, self.created_keys)))
        rows = 0
        if kind == "delete":
            pred = f"l_orderkey % 97 = {r % 97}"
            fn = lambda: ctx.tr.call(  # noqa: E731
                "maintenance.delete_where", maintenance.delete_where,
                ctx.spark, self.path, pred, **options,
            )
            replay = (f"DELETE FROM {{t}} WHERE {pred}",)
        elif kind == "update":
            pred = f"l_orderkey % 89 = {r % 89}"
            fn = lambda: ctx.tr.call(  # noqa: E731
                "maintenance.update_where", maintenance.update_where,
                ctx.spark, self.path, {"l_quantity": "l_quantity + 1"}, pred,
                **options,
            )
            replay = (f"UPDATE {{t}} SET l_quantity = l_quantity + 1 WHERE {pred}",)
        elif kind == "merge":
            src = self._merge_source()
            rows = src.num_rows
            self.user_bytes += src.nbytes
            fn = lambda: ctx.tr.call(  # noqa: E731
                "maintenance.merge_upsert", maintenance.merge_upsert,
                ctx.spark, self.path, ctx.spark.createDataFrame(src),
                ["l_orderkey"], **options,
            )
            replay = (
                "DELETE FROM {t} WHERE l_orderkey IN (SELECT l_orderkey FROM batch); "
                "INSERT INTO {t} SELECT * FROM batch",
                src,
            )
        else:
            raise ValueError(kind)
        self._commit(kind, fn, rows, replay, timed)

    def _merge_source(self) -> pa.Table:
        """Unique-keyed upsert source: half keys issued before (the rows
        may since have been deleted), half new."""
        ctx = self.ctx
        n = min(ctx.rows(2_000), 2 * (self.next_key - self.first_key))
        old = ctx.rng.choice(
            np.arange(self.first_key, self.next_key), size=n // 2, replace=False
        )
        new = np.arange(self.next_key, self.next_key + n - n // 2)
        self.next_key += n
        keys = pa.array(np.concatenate([old, new]).astype(np.int64))
        return gen.lineitem(ctx.rng, n, 0).set_column(0, "l_orderkey", keys)

    def compact(self, timed: bool) -> None:
        from quiver_spark import maintenance

        ctx = self.ctx
        self._commit(
            "compact",
            lambda: ctx.tr.call("maintenance.compact", maintenance.compact,
                                ctx.spark, self.path),
            0, (), timed,
        )

    def vacuum(self, timed: bool, **kw) -> None:
        from quiver_spark import maintenance

        ctx = self.ctx
        self._commit(
            "vacuum",
            lambda: ctx.tr.call("maintenance.vacuum", maintenance.vacuum,
                                self.path, **kw),
            0, (), timed,
        )

    def expected(self):
        return self.ctx.con.execute(f"SELECT {_CK_SQL} FROM {self.name}").fetchone()

    def checksum(self, **scan_opts):
        ctx = self.ctx
        return ctx.act(ctx.scan(self.path, **scan_opts).agg(*_ck_spark()), _one)

    def verify_read(self, timed: bool) -> None:
        ctx = self.ctx
        want = self.expected()
        if timed:
            ctx.log.run("verify_read", self.checksum, check=lambda got: got == want)
        else:
            ctx.verify(f"{self.name}:verify_read", self.checksum() == want)


# ---------------------------------------------------------------------------
# ingest_commit
# ---------------------------------------------------------------------------

#: the DML issued at the end of each commit cycle, in order
DML_CYCLE = ("delete", "update", "merge")
APPENDS_PER_CYCLE = 4
COMPACT_EVERY = 2  # cycles


class IngestCommit:
    name = "ingest_commit"

    def build(self, ctx: Ctx) -> None:
        self.t = Replica(
            ctx, os.path.join(ctx.work, "t_ingest"), "live",
            int(ctx.rng.integers(1, 1000)) * 10_000_000,
        )
        seed_tbl = self.t.batch(ctx.rows(100_000))
        self.t.create(seed_tbl)
        self.cycle = 0
        self.sample_batch = seed_tbl
        self.pages_root = None  # the live generation, resolved at finish
        self.dml_reports = self.t.reports

    def warmup(self, ctx: Ctx) -> None:
        self.t.append(self.t.batch(ctx.rows(5_000)), timed=False)
        self.t.verify_read(timed=False)
        # the first DML starts the Python workers; every DML shape is then
        # checked by the verify read that follows it in the timed loop
        self.t.dml(DML_CYCLE[0], timed=False)
        self.t.verify_read(timed=False)

    def step(self, ctx: Ctx) -> None:
        for _ in range(APPENDS_PER_CYCLE):
            self.t.append(self.t.batch(ctx.rows(int(ctx.rng.integers(2_000, 8_001)))), timed=True)
        self.t.dml(DML_CYCLE[self.cycle % len(DML_CYCLE)], timed=True)
        self.t.verify_read(timed=True)
        self.cycle += 1
        if self.cycle % COMPACT_EVERY == 0:
            self.t.compact(timed=True)
            self.t.vacuum(timed=True)
            self.t.verify_read(timed=True)

    def done(self, elapsed: float, seconds: float) -> bool:
        return elapsed >= seconds

    @property
    def user_bytes(self) -> int:
        return self.t.user_bytes

    def finish(self, ctx: Ctx) -> None:
        from quiver_spark import maintenance

        maintenance.vacuum(self.t.path)
        live = ctx.con.execute("SELECT * FROM live").fetch_arrow_table()
        self.storage_amp = tree_bytes(self.t.path) / live.nbytes
        self.pages_root = _data_root(self.t.path)


# ---------------------------------------------------------------------------
# llm_pipeline
# ---------------------------------------------------------------------------

PIPELINE_QUERIES = (
    "dedup_minhash_signature",
    "dedup_minhash_pairs",
    "dedup_clusters",
    "dedup_ngram_jaccard",
    "text_ngram_novelty",
    "sketch_count_min",
    "sketch_hll_union",
    "embedding_near_dup",
)


class LlmPipeline:
    name = "llm_pipeline"

    def build(self, ctx: Ctx) -> None:
        from quiver_spark.registry import load_all_operators

        # sf0.01-sized: the oracles of the pair queries grow with the square
        # of the input, and the pass is dominated by job floors anyway
        self.n_docs = ctx.rows(500)
        self.sf = os.path.join(ctx.work, "sf")
        arrow_bytes = _write_sf(ctx.rng, self.sf, self.n_docs, ctx.rows(400),
                                ctx.rows(10_000), ctx.rows(15_000))
        # pyarrow's parquet size of the inputs: a fixed control, which no
        # change to quiver_spark can move
        self.storage_amp = tree_bytes(self.sf) / arrow_bytes
        self.sample_batch = pq.read_table(os.path.join(self.sf, "documents.parquet"))
        self.pages_root = None
        self.registry = load_all_operators()
        self.exchanges: dict[str, int] = {}

    def _oracles(self, ctx: Ctx) -> dict[str, list | None]:
        """Registry oracles over the generated input, in DuckDB."""
        t0 = time.perf_counter()
        _duck_views(ctx.con, self.sf)
        out = {}
        for name in PIPELINE_QUERIES:
            oracle = self.registry[name].oracle
            out[name] = (
                None if oracle is None else norm_frame(ctx.con.execute(oracle).fetchdf())
            )
        ctx.verify_s += time.perf_counter() - t0
        return out

    def _run_query(self, ctx: Ctx, name: str):
        spec = self.registry[name]
        df = ctx.tr.call(f"operators.{name}", spec.spark, ctx.spark, self.sf)
        pdf = ctx.act(df, lambda d: d.toPandas())
        if ctx.tr.enabled and name not in self.exchanges:
            self.exchanges[name] = _count_exchanges(
                df._jdf.queryExecution().executedPlan().toString()
            )
        return norm_frame(pdf)

    @staticmethod
    def _check(got, want) -> bool:
        """The registry oracle's answer where it has one, else rows."""
        return len(got) > 0 if want is None else got == want

    def warmup(self, ctx: Ctx) -> None:
        """One pass, untimed (first-use costs: Python workers, code
        generation, JIT), each query checked against its oracle."""
        got = {name: self._run_query(ctx, name) for name in PIPELINE_QUERIES}
        self.want = self._oracles(ctx)
        for name in PIPELINE_QUERIES:
            ctx.verify(f"llm_pipeline:{name}", self._check(got[name], self.want[name]))

    def step(self, ctx: Ctx) -> None:
        ctx.log.start_round()
        for i, name in enumerate(PIPELINE_QUERIES):
            ctx.log.run(
                name,
                lambda name=name: self._run_query(ctx, name),
                # the pass covers the input documents once
                rows=self.n_docs if i == 0 else 0,
                check=lambda got, name=name: self._check(got, self.want[name]),
            )

    def done(self, elapsed: float, seconds: float) -> bool:
        """Whole passes only (a step is one pass)."""
        return elapsed >= seconds

    def finish(self, ctx: Ctx) -> None:
        pass


def _write_sf(rng, sf: str, docs: int, vecs: int, events: int, orders: int) -> int:
    """Write the tables the pipeline queries read as an sf directory of
    parquet files; returns their Arrow bytes."""
    os.makedirs(sf)
    tables = {
        "documents": gen.documents(rng, docs),
        "embeddings": gen.embeddings(rng, vecs),
        "events": gen.events(rng, events),
        "orders": gen.orders(rng, orders),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf, f"{name}.parquet"))
    return sum(t.nbytes for t in tables.values())


def _duck_views(con, sf: str) -> None:
    for name in ("documents", "embeddings", "events", "orders"):
        path = os.path.join(sf, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")


def _count_exchanges(plan: str) -> int:
    """Exchange nodes of an executed plan (the final plan under AQE)."""
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange " in line and "ReusedExchange" not in line
    )


WORKLOADS = {w.name: w for w in (ScanMix, IngestCommit, LlmPipeline)}
