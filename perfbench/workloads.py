"""The benchmark's workloads.

Each is a closed loop with one client: the next op starts only after the
previous op's result has been fully fetched, as the eval harness does.
The seed orders the ops (and draws the warehouse stream's keys and
values); the SQL comes from the repo's own sources of truth
(``harness.cases``/``harness.fixtures``, ``bench.py``,
``duckdb_nsql_spark.workload``) except for the warehouse stream, whose
statements are generated here. See ``Workload`` for the protocol.
"""

from __future__ import annotations

import datetime
import os
import random
import re
import shutil
from dataclasses import dataclass
from typing import Optional

import duckdb

from harness import cases as case_mod
from harness import fixtures

from . import check

_DEFAULT_VALIDATION = "SELECT * FROM ddb_benchmark_result"


@dataclass(frozen=True)
class Op:
    kind: str  # read | write | checkpoint
    key: str
    sql: Optional[str] = None


def _seeded(seed: int, n: int) -> random.Random:
    return random.Random(f"{seed}:{n}")


def _fetch(df, probe):
    with probe.span("exec.fetch"):
        return df.toPandas()


def _duck_with_tables(data_dir: str):
    """DuckDB over the parquet tables of ``data_dir`` (the oracle side)."""
    from harness.bench_duckdb import TABLES

    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


class _PlanCacheWatch:
    """Plan-cache hit = the session returned the same DataFrame object it
    returned last time for the same text."""

    def __init__(self):
        self._last: dict[str, object] = {}

    def hit(self, sql: str, df) -> bool:
        prev = self._last.get(sql)
        self._last[sql] = df
        return prev is not None and prev is df

    def clear(self) -> None:
        self._last.clear()


class Workload:
    """Protocol the runner drives; the defaults do nothing.

    - ``data``: keys of the generated tables it reads (passed to the
      constructor by the same names).
    - ``prepare(spark)``: build the catalog from scratch (registration or
      seeding). Timed several times; ``setup_s`` takes the median.
    - ``seed_once()``: set-up work done once (timed once).
    - ``oracle_setup()``: DuckDB side of the oracle (untimed).
    - ``pass_ops(n)``: ops of pass ``n`` in seeded order; passes
      ``0 .. warmup_passes - 1`` are the warm-up (in ``setup_s``), timed
      passes follow.
    - ``before(op, probe)`` (untimed), ``run(op, probe, rec)`` (timed),
      ``check(op, rec, df, pdf)`` (oracle, untimed).
    - ``after_pass(n, traced)``; ``finish()`` runs deferred checks, marks
      failing records and returns the number of other failed checks;
      ``layer_stats()``; ``close()``.
    """

    name = ""
    data: tuple[str, ...] = ()  # generated scale factors the workload reads
    warmup_passes = 1

    def seed_once(self) -> None:
        pass

    def oracle_setup(self) -> None:
        pass

    def before(self, op: Op, probe) -> None:
        pass

    def after_pass(self, n: int, traced: bool) -> None:
        pass

    def finish(self) -> int:
        return 0

    def layer_stats(self) -> dict:
        return {}

    def close(self) -> None:
        pass


# --------------------------------------------------------------- nsql_fixture

# statements that change catalog, session or files are not eval-loop reads
_NOT_READ_ONLY = re.compile(
    r"^\s*(INSERT|UPDATE|DELETE|ALTER|CREATE|DROP|SET|RESET|COPY)\b", re.I
)


def read_only_cases() -> list:
    return [
        c for c in case_mod.all_cases()
        if c.setup_sql is None and not _NOT_READ_ONLY.match(c.query)
    ]


def nsql_order(seed: int, pass_no: int, names: list[str]) -> list[str]:
    order = sorted(names)
    _seeded(seed, pass_no).shuffle(order)
    return order


def _duck_validation(ddb, case) -> tuple[int, str]:
    """DuckDB's answer for ``case``: the query itself, or its validation
    SQL over the query's result materialized as ddb_benchmark_result (the
    reference evaluator's protocol)."""
    if case.validation_sql == _DEFAULT_VALIDATION:
        return check.duck_digest(ddb.execute(case.query))
    q = re.sub(
        r"^\s*PRAGMA\s+(\w+)", r"SELECT * FROM pragma_\1", case.query,
        flags=re.I,
    )
    ddb.execute("DROP TABLE IF EXISTS ddb_benchmark_result")
    ddb.execute(f"CREATE TABLE ddb_benchmark_result AS {q}")
    return check.duck_digest(ddb.execute(case.validation_sql))


class NsqlFixture(Workload):
    """One eval-loop step per op: schema prompt, validate, execute, fetch."""

    name = "nsql_fixture"

    def __init__(self, seed: int, **_):
        self.seed = seed
        self.cases = {c.name: c for c in read_only_cases()}
        self.cons: dict = {}
        self.expected: dict = {}
        self.cache = _PlanCacheWatch()

    def prepare(self, spark) -> None:
        from duckdb_nsql_spark import DuckSparkSession

        self.close()
        cons = {}
        for db, stmts in fixtures.DATABASES.items():
            con = DuckSparkSession(spark=spark)
            for s in stmts:
                con.execute(s)
            cons[db] = con
        self.cons = cons

    def oracle_setup(self) -> None:
        ddbs = {}
        for db, stmts in fixtures.DATABASES.items():
            ddbs[db] = duckdb.connect()
            for s in stmts:
                ddbs[db].execute(s)
        for name, case in self.cases.items():
            self.expected[name] = _duck_validation(ddbs[case.db_id], case)
        for d in ddbs.values():
            d.close()

    def pass_ops(self, n: int) -> list[Op]:
        for con in self.cons.values():
            con.clear_statement_cache()  # every question is new
        self.cache.clear()
        return [
            Op("read", k, self.cases[k].query)
            for k in nsql_order(self.seed, n, list(self.cases))
        ]

    def run(self, op: Op, probe, rec):
        from duckdb_nsql_spark.validate import validate_sql

        con = self.cons[self.cases[op.key].db_id]
        with probe.span("introspect.schema_text"):
            con.schema_text()
        with probe.span("validate"):
            v = validate_sql(con, op.sql)
        if not v.ok:
            raise RuntimeError(f"{op.key}: validate_sql said {v.category}")
        probe.rewrite(rec, con, op.sql)
        with probe.span("session.build"):
            df = con.execute(op.sql)
        rec.cache_hit = self.cache.hit(op.sql, df)
        return df, _fetch(df, probe)

    def check(self, op: Op, rec, df, pdf) -> bool:
        case = self.cases[op.key]
        if case.validation_sql == _DEFAULT_VALIDATION:
            got = check.frame_digest(pdf, df.schema)
        else:
            scratch = duckdb.connect()
            try:
                scratch.register("ddb_benchmark_result", pdf)
                got = check.duck_digest(scratch.execute(case.validation_sql))
            finally:
                scratch.close()
        return got == self.expected[op.key]

    def close(self) -> None:
        for con in self.cons.values():
            con.close()


# ------------------------------------------------------------------ tpch_sf01

def _clustered_ddl() -> list[str]:
    """bench._setup_clustered's CTAS statements, as executed by the engine."""
    import bench

    class _Recorder:
        def __init__(self):
            self.sql: list[str] = []

        def execute(self, sql: str) -> None:
            self.sql.append(sql)

    rec = _Recorder()
    bench._setup_clustered(rec)
    return rec.sql


def tpch_rows() -> dict[str, tuple[str, str]]:
    """bench.py's 19 rows: key -> (family, registry name or SQL)."""
    import bench
    from duckdb_nsql_spark import workload

    rows = {}
    for key, qname in bench.BENCH_QUERIES.items():
        fam = "sql" if qname in workload.ENGINE_SQL else "operator"
        rows[key] = (fam, qname)
    rows[bench.SUMMARIZE_KEY] = ("text", "SUMMARIZE orders")
    rows[bench.CLUSTERED_KEY] = ("text", bench.CLUSTERED_SQL)
    rows[bench.AGG_CLUSTERED_KEY] = ("text", bench.AGG_CLUSTERED_SQL)
    return rows


def headline_keys() -> list[str]:
    """bench.py's headline: every row but the two clustered-layout rows."""
    import bench

    return [
        k for k in tpch_rows()
        if k not in (bench.CLUSTERED_KEY, bench.AGG_CLUSTERED_KEY)
    ]


class TpchSf01(Workload):
    """bench.py's 19 rows at sf0.1, one row per op, full Arrow fetch."""

    name = "tpch_sf01"
    data = ("sf01",)

    def __init__(self, seed: int, sf01: str, **_):
        self.seed = seed
        self.sf = sf01
        self.rows = tpch_rows()
        self.eng = None
        self.spark = None
        self.expected: dict = {}
        self.cache = _PlanCacheWatch()

    def prepare(self, spark) -> None:
        from duckdb_nsql_spark import DuckSparkSession

        self.spark = spark
        eng = DuckSparkSession(spark=spark)
        eng.register_parquet_dir(self.sf)
        if self.eng is not None:
            self.eng.close()
        self.eng = eng

    def seed_once(self) -> None:
        for sql in _clustered_ddl():
            self.eng.execute(sql)
        self.eng.table("lineitem").limit(1000).toPandas()

    def oracle_setup(self) -> None:
        from duckdb_nsql_spark import workload

        oracles = workload.build_oracles()
        ddb = _duck_with_tables(self.sf)
        for sql in _clustered_ddl():
            ddb.execute(re.sub(
                r"\s+CLUSTER BY \([^)]*\)\s+INTO \d+ BUCKETS", "", sql
            ))
        for key, (fam, ref) in self.rows.items():
            if fam == "text":
                self.expected[key] = (
                    _summarize_shape(ddb.execute(ref))
                    if ref.startswith("SUMMARIZE")
                    else check.duck_digest(ddb.execute(ref))
                )
            elif ref in oracles:
                self.expected[key] = check.duck_digest(
                    ddb.execute(oracles[ref])
                )
            else:
                self.expected[key] = None  # rows-only registry entry
        ddb.close()

    def pass_ops(self, n: int) -> list[Op]:
        keys = sorted(self.rows)
        _seeded(self.seed, n).shuffle(keys)
        return [Op("read", k) for k in keys]

    def before(self, op: Op, probe) -> None:
        # full re-execution per op, as bench.py: no plan-cache hits
        from duckdb_nsql_spark import workload

        self.eng.clear_statement_cache()
        workload.engine_for(self.spark, self.sf).clear_statement_cache()
        self.cache.clear()

    def run(self, op: Op, probe, rec):
        from duckdb_nsql_spark import workload

        fam, ref = self.rows[op.key]
        if fam == "operator":
            with probe.span("session.build"):
                df = workload.OPERATORS[ref][0](self.spark, self.sf)
        else:
            sql = workload.ENGINE_SQL[ref][0] if fam == "sql" else ref
            probe.rewrite(rec, self.eng, sql)
            with probe.span("session.build"):
                df = self.eng.execute(sql)
            rec.cache_hit = self.cache.hit(sql, df)
        return df, _fetch(df, probe)

    def check(self, op: Op, rec, df, pdf) -> bool:
        want = self.expected[op.key]
        if want is None:
            return len(pdf) > 0
        if op.key == "q10_summarize":
            return _summarize_shape_pdf(pdf) == want
        return check.frame_digest(pdf, df.schema) == want

    def close(self) -> None:
        if self.eng is not None:
            self.eng.close()


def _summarize_shape(rel) -> tuple:
    """SUMMARIZE's statistics are partly approximate (approx_unique,
    quantiles); compare what both engines define exactly: one row per
    column with its name, min, max and count."""
    cols = [d[0] for d in rel.description]
    rows = rel.fetchall()
    return _summary_key(cols, rows)


def _summarize_shape_pdf(pdf) -> tuple:
    return _summary_key(list(pdf.columns), check.pandas_rows(pdf, None))


def _summary_key(cols, rows) -> tuple:
    keep = [cols.index(c) for c in ("column_name", "min", "max", "count")]
    return tuple(sorted(
        tuple(str(check._py(r[i])) for i in keep) for r in rows
    ))


# --------------------------------------------------------------- warehouse_rw

# dashboard reads of similar cost (aggregations over orders), so the
# read-latency distribution has no gap for its median to fall into
DASHBOARD = {
    "status_revenue": (
        "SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2)"
        " AS revenue FROM orders GROUP BY ALL ORDER BY ALL"
    ),
    "yearly_revenue": (
        "SELECT year(o_orderdate) AS y, count(*) AS n,"
        " round(sum(o_totalprice), 2) AS revenue FROM orders"
        " GROUP BY ALL ORDER BY ALL"
    ),
    "segment_orders": (
        "SELECT c.c_mktsegment, count(*) AS n_orders FROM customer c"
        " JOIN orders o ON o.o_custkey = c.c_custkey GROUP BY ALL ORDER BY ALL"
    ),
    "top_customers": (
        "SELECT o_custkey, round(sum(o_totalprice), 2) AS spend FROM orders"
        " GROUP BY o_custkey ORDER BY spend DESC, o_custkey LIMIT 10"
    ),
}
WRITE_KINDS = ("insert", "update_orders", "update_customer", "delete")
READS_PER_ROUND = 3
# one pass = one round per write kind; its reads are every dashboard
# query READS_PER_ROUND times
ROUNDS_PER_PASS = len(WRITE_KINDS)
assert ROUNDS_PER_PASS == len(DASHBOARD)  # _round_reads pairs them up
CHECKPOINT_EVERY = 4  # writes
_EPOCH = datetime.date(1995, 1, 1)
_STATUS = ("O", "F", "P")
_PRIO = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def warehouse_passes(seed: int, passes: int, n_orders: int,
                     n_customers: int) -> list[list[Op]]:
    """The seeded statement stream, cut into passes. Per round: one write,
    a CHECKPOINT after every CHECKPOINT_EVERY writes, then
    READS_PER_ROUND dashboard reads (see ``_round_reads``). Each pass runs
    every write kind once and every dashboard query READS_PER_ROUND
    times, so the seed changes order and keys but not the mix. Inserted
    keys start past the seeded key range; update/delete keys may miss (a
    no-op write, as in real traffic)."""
    rng = random.Random(f"{seed}:warehouse")
    next_key = n_orders
    writes = 0
    out: list[list[Op]] = []
    for _ in range(passes):
        kinds = list(WRITE_KINDS)
        rng.shuffle(kinds)
        reads = _round_reads(rng)
        ops: list[Op] = []
        for r, kind in enumerate(kinds):
            if kind == "insert":
                day = _EPOCH + datetime.timedelta(days=rng.randrange(2400))
                sql = (
                    f"INSERT INTO orders VALUES ({next_key},"
                    f" {rng.randrange(n_customers)}, '{rng.choice(_STATUS)}',"
                    f" {rng.randrange(100000, 50000000) / 100:.2f},"
                    f" TIMESTAMP '{day} 00:00:00', '{rng.choice(_PRIO)}')"
                )
                next_key += 1
            elif kind == "update_orders":
                lo = rng.randrange(next_key)
                sql = (
                    "UPDATE orders SET o_totalprice = o_totalprice + 1.5"
                    f" WHERE o_orderkey BETWEEN {lo} AND {lo + rng.randrange(1, 200)}"
                )
            elif kind == "update_customer":
                lo = rng.randrange(n_customers)
                sql = (
                    "UPDATE customer SET c_acctbal = c_acctbal + 2.25"
                    f" WHERE c_custkey BETWEEN {lo} AND {lo + rng.randrange(1, 50)}"
                )
            else:
                sql = f"DELETE FROM orders WHERE o_orderkey = {rng.randrange(next_key)}"
            ops.append(Op("write", kind, sql))
            writes += 1
            if writes % CHECKPOINT_EVERY == 0:
                ops.append(Op("checkpoint", "checkpoint", "CHECKPOINT"))
            for q in reads[r]:
                ops.append(Op("read", q, DASHBOARD[q]))
        out.append(ops)
    return out


def _round_reads(rng: random.Random) -> list[tuple[str, str, str]]:
    """The reads of one pass's rounds: ``(a, b, a)`` per round, with the
    ``a``s and the ``b``s each a seeded permutation of the dashboard
    queries and ``a != b`` in every round. So every round repeats exactly
    one text with no write in between (one plan-cache hit per round), and
    the seed changes which query repeats, not how many reads hit."""
    first = sorted(DASHBOARD)
    rng.shuffle(first)
    while True:
        second = sorted(DASHBOARD)
        rng.shuffle(second)
        if all(a != b for a, b in zip(first, second)):
            return [(a, b, a) for a, b in zip(first, second)]


def _tree(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class WarehouseRW(Workload):
    """Durable read/write traffic on connect(database=<dir>)."""

    name = "warehouse_rw"
    data = ("sf001",)
    # a pass is ~3 s; even with run.JIT_WARMUP a run's first two passes
    # were ~40% slower than its later ones
    warmup_passes = 3

    def __init__(self, seed: int, sf001: str, work: str, **_):
        self.seed = seed
        self.sf = sf001
        self.work = work
        self.con = None
        self.spark = None
        self.dir = ""
        self._n_prepared = 0
        self.cache = _PlanCacheWatch()
        self.executed: list[tuple] = []  # (op, record, result digest)
        self.write_stats: list[dict] = []
        self.shape: dict = {}
        self._snap: Optional[dict] = None
        n_orders, n_cust = (
            duckdb.sql(
                f"SELECT count(*) FROM read_parquet('{sf001}/{t}.parquet')"
            ).fetchone()[0]
            for t in ("orders", "customer")
        )
        self._sizes = (n_orders, n_cust)

    def _ctas(self) -> list[str]:
        return [
            f"CREATE TABLE {t} AS SELECT * FROM"
            f" read_parquet('{os.path.join(self.sf, t + '.parquet')}')"
            for t in ("orders", "customer")
        ]

    def prepare(self, spark) -> None:
        from duckdb_nsql_spark import connect

        self.spark = spark
        if self.con is not None:
            self.con.close()
            shutil.rmtree(self.dir, ignore_errors=True)
        self._n_prepared += 1
        self.dir = os.path.join(self.work, f"warehouse-{self._n_prepared}")
        self.con = connect(spark=spark, database=self.dir)
        for sql in self._ctas():
            self.con.execute(sql)
        self.cache.clear()

    def pass_ops(self, n: int) -> list[Op]:
        return warehouse_passes(self.seed, n + 1, *self._sizes)[n]

    def before(self, op: Op, probe) -> None:
        if probe.traced and op.kind != "read":
            self._snap = _tree(self.dir)

    def run(self, op: Op, probe, rec):
        if op.kind == "read":
            probe.rewrite(rec, self.con, op.sql)
        with probe.span("session.build"):
            df = self.con.execute(op.sql)
        if df is None:
            rec.cache_hit = None
            return None, None
        rec.cache_hit = self.cache.hit(op.sql, df) if op.kind == "read" else None
        return df, _fetch(df, probe)

    def check(self, op: Op, rec, df, pdf) -> bool:
        """Reads are compared during the DuckDB replay in finish()."""
        got = check.frame_digest(pdf, df.schema) if op.kind == "read" else None
        self.executed.append((op, rec, got))
        if self._snap is not None:
            after = _tree(self.dir)
            commits = os.path.join(self.dir, "_commits")
            self.write_stats.append({
                "kind": op.kind,
                "ms": rec.wall_ms,
                "commits": sum(
                    1 for p in after
                    if p not in self._snap and os.path.dirname(p) == commits
                ),
                "bytes": sum(
                    s for p, s in after.items() if p not in self._snap
                ),
            })
            self._snap = None
        return True

    def after_pass(self, n: int, traced: bool) -> None:
        """Traced runs size the warehouse after the same amount of work
        (warm-up + 2 passes), whatever the run length."""
        if traced and n == 2:
            self.measure_space()

    def measure_space(self) -> None:
        """Warehouse bytes on disk vs the live tables written once."""
        tree = _tree(self.dir)
        live = 0
        for t in ("orders", "customer"):
            out = os.path.join(self.work, f"live-{t}")
            self.con.table(t).coalesce(1).write.mode("overwrite").parquet(out)
            live += sum(s for p, s in _tree(out).items() if p.endswith(".parquet"))
            shutil.rmtree(out, ignore_errors=True)
        self.shape = {
            "files": len(tree),
            "space_amp": sum(tree.values()) / live,
        }

    def finish(self) -> int:
        """Replay every executed statement on a DuckDB file database,
        compare each read and then the final tables; returns the number
        of tables that differ."""
        ddb = duckdb.connect(os.path.join(self.work, "oracle.duckdb"))
        bad_tables = 0
        try:
            for sql in self._ctas():
                ddb.execute(sql)
            for op, rec, got in self.executed:
                res = ddb.execute(op.sql)
                if got is not None and check.duck_digest(res) != got:
                    rec.ok = False
            for t in ("orders", "customer"):
                df = self.con.execute(f"SELECT * FROM {t}")
                got = check.frame_digest(df.toPandas(), df.schema)
                if check.duck_digest(ddb.execute(f"SELECT * FROM {t}")) != got:
                    bad_tables += 1
        finally:
            ddb.close()
        return bad_tables

    def layer_stats(self) -> dict:
        return {"writes": self.write_stats, **self.shape}

    def close(self) -> None:
        if self.con is not None:
            self.con.close()


WORKLOADS = {w.name: w for w in (NsqlFixture, TpchSf01, WarehouseRW)}
