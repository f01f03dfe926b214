"""Layer probes: spans timed from outside the engine, around calls into its
public layers, plus counts read from Spark's own trackers.

Workload code runs every op through the same calls whether tracing is on
or off; ``NullProbe`` makes them no-ops, so the untraced run pays nothing
but a few attribute lookups and the traced run shows its own overhead.

Span tree of one traced op (all spans of an op share its op id)::

    op
    ├── introspect.schema_text      (nsql_fixture)
    ├── validate                    (nsql_fixture)
    ├── frontend.rewrite            extra pure rewrite_sql() of the same text
    ├── session.build               DuckSparkSession.execute / operator call
    │   └── catalyst.analysis       from queryExecution().tracker()
    └── exec.fetch                  df.toPandas()
        ├── catalyst.optimization
        └── catalyst.planning

Catalyst phases are read after the op (a py4j round trip must not sit
inside a span) and only on plan-cache misses: a cache hit returns an
already-planned Dataset whose phase times are stale.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field
from typing import Optional

from duckdb_nsql_spark.frontend.rewrites import rewrite_sql
from duckdb_nsql_spark.frontend.tokenizer import tokenize

# direct children of the op span; the op's wall time minus their sum is
# the unattributed remainder
TOP_SPANS = (
    "introspect.schema_text", "validate", "frontend.rewrite",
    "session.build", "exec.fetch",
)
_PHASE_PARENT = {
    "analysis": "session.build",
    "optimization": "exec.fetch",
    "planning": "exec.fetch",
}
_NULL = contextlib.nullcontext()


@dataclass
class OpRecord:
    """What one op did, as seen from outside the engine."""

    op_id: int
    kind: str  # read | write | checkpoint
    key: str  # statement key (case name, bench row, stream kind)
    wall_ms: float = 0.0
    ok: bool = True
    traced: bool = False
    span_ms: dict = field(default_factory=dict)
    tokens: int = 0
    cache_hit: Optional[bool] = None
    jobs_build: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    rows: int = 0
    sql: Optional[str] = None  # text of the extra frontend call


class NullProbe:
    """Tracing off: every hook is a no-op."""

    traced = False

    def span(self, name: str):
        return _NULL

    def rewrite(self, rec: OpRecord, con, sql: str) -> None:
        pass

    def start(self, rec: OpRecord) -> None:
        pass

    def stop(self, rec: OpRecord) -> None:
        pass

    def finish(self, rec: OpRecord, df, plan_miss: bool) -> None:
        pass


class SpanProbe(NullProbe):
    """Tracing on: spans kept in memory, written once at exit."""

    traced = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._rec: Optional[OpRecord] = None
        self._t0 = 0.0
        self._tokens: dict[str, int] = {}

    def _add(self, name, parent, start, end) -> None:
        rec = self._rec
        self.spans.append({
            "op": rec.op_id, "name": name, "parent": parent,
            "start_ms": start * 1e3, "end_ms": end * 1e3,
        })
        if parent == "op":
            rec.span_ms[name] = rec.span_ms.get(name, 0.0) + (end - start) * 1e3

    def start(self, rec: OpRecord) -> None:
        """Called before the op's clock starts: jobs up to the fetch count
        as build jobs."""
        self._rec = rec
        rec.traced = True
        self.sc.setJobGroup(self._group("session.build"), "build")
        self._t0 = time.time()

    def stop(self, rec: OpRecord) -> None:
        end = time.time()
        self._add("op", None, self._t0, end)
        self.sc.setJobGroup("perfbench-idle", "between ops")

    @contextlib.contextmanager
    def span(self, name: str):
        if name == "exec.fetch":
            self.sc.setJobGroup(self._group(name), name)
        t0 = time.time()
        try:
            yield
        finally:
            self._add(name, "op", t0, time.time())

    def rewrite(self, rec: OpRecord, con, sql: str) -> None:
        """An extra, pure frontend call on the op's text: the rewrite the
        session runs inside execute() is not reachable from outside."""
        with self.span("frontend.rewrite"):
            rewrite_sql(sql, getattr(con, "_resolver", None))
        rec.sql = sql

    def _group(self, name: str) -> str:
        return f"perfbench-{self._rec.op_id}-{name}"

    def _count(self, name: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in st.getJobIdsForGroup(self._group(name)):
            jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return jobs, stages, tasks

    def finish(self, rec: OpRecord, df, plan_miss: bool) -> None:
        """After the op span closed: Spark job counts and Catalyst phases."""
        if rec.sql is not None:
            n = self._tokens.get(rec.sql)
            if n is None:
                n = self._tokens[rec.sql] = len(tokenize(rec.sql))
            rec.tokens = n
        rec.jobs_build = self._count("session.build")[0]
        rec.jobs, rec.stages, rec.tasks = self._count("exec.fetch")
        if df is None or not plan_miss:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        for phase, parent in _PHASE_PARENT.items():
            opt = phases.get(phase)
            if opt.isDefined():
                s = opt.get()
                self.spans.append({
                    "op": rec.op_id, "name": f"catalyst.{phase}",
                    "parent": parent, "start_ms": float(s.startTimeMs()),
                    "end_ms": float(s.endTimeMs()),
                })
                rec.span_ms[f"catalyst.{phase}"] = float(s.durationMs())
