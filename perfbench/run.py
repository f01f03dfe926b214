#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON line.

    python3 perfbench/run.py --workload nsql_fixture --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repo. The process starts Spark on
``local[<usable cpus>]``, sets up the workload (timed as ``setup_s``,
including its warm-up passes), then runs whole passes of seeded ops and
stops at the pass boundary nearest to ``--seconds``. Every op's result is
checked against DuckDB outside the timed region.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json. ``--trace 1``
times every statement alternately with and without tracing, prints the
per-layer metrics and writes the spans of the traced ops to
``.perfbench_work/traces/<workload>-seed<seed>.json``.

Everything the run writes stays under ``.perfbench_work/`` in the checkout:
generated data (kept, generated on first use), Spark scratch and the
durable warehouse of ``warehouse_rw`` (removed at exit).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
PREPARES = 3  # set-ups per run; setup_s takes their median
# The JVM compiles hot methods after 1/20 of its default invocation
# counts, so a run reaches within its warm-up passes the steady state a
# long-lived session reaches after minutes; with default thresholds op
# latency still fell by ~40% over the first 20 s of timed ops, so a
# run's median depended on how many passes it got.
JIT_WARMUP = "-XX:CompileThresholdScaling=0.05"
DRIVER_MEM = "4g"  # enough for sf0.1; the box is shared

END_TO_END = (
    ("setup_s", "s"),
    ("op_p50_ms", "ms"),
    ("op_p90_ms", "ms"),
    ("ops_per_s", "1/s"),
    ("headline_total_s", "s"),
    ("read_p50_ms", "ms"),
)

PER_LAYER = (
    ("frontend.rewrite_ms", "ms"),
    ("frontend.tokens", "count"),
    ("session.build_ms", "ms"),
    ("session.build_jobs", "count"),
    ("session.plan_cache_hit_ratio", "ratio"),
    ("validate.validate_ms", "ms"),
    ("introspect.schema_text_ms", "ms"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("exec.fetch_ms", "ms"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.result_rows", "count"),
    ("warehouse.write_p50_ms", "ms"),
    ("warehouse.commits_per_write", "count"),
    ("warehouse.bytes_written_per_write", "B"),
    ("warehouse.files", "count"),
    ("warehouse.checkpoint_ms", "ms"),
    ("warehouse.space_amp", "ratio"),
    ("trace.unattributed_ms", "ms"),
    ("trace.uncovered_ops", "count"),
    ("trace.overhead_pct", "%"),
)


# an op's spans must cover its wall time up to this remainder
COVER_ABS_MS = 1.0
COVER_REL = 0.02


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    t = time.perf_counter() - _T0
    print(f"[perfbench {t:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def hd_quantile(xs, p: float) -> float:
    """Harrell-Davis estimate of quantile ``p``: a weighted mean of all
    order statistics, the i-th weighted by the Beta(p(n+1), (1-p)(n+1))
    mass on [(i-1)/n, i/n]. With one sample per statement (43 on
    nsql_fixture) it varies less between runs than the single order
    statistic the sample quantile picks."""
    xs = sorted(xs)
    n = len(xs)
    if n < 2:
        return xs[0] if xs else 0.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    steps = 64  # midpoint rule per interval
    h = 1.0 / (n * steps)
    weights = []
    for i in range(n):
        ts = (i / n + (k + 0.5) * h for k in range(steps))
        weights.append(h * sum(
            math.exp(log_norm + (a - 1) * math.log(t) + (b - 1) * math.log(1 - t))
            for t in ts
        ))
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _usable_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ------------------------------------------------------------------ set-up

def _isolate(run_dir: str) -> dict:
    """Point every scratch location of Python, the JVM and Spark into the
    run's directory, and let Spark's Python workers import the repo."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    return {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JIT_WARMUP}",
        "spark.ui.showConsoleProgress": "false",
    }


SCALES = {"sf01": 0.1, "sf001": 0.01}


def ensure_data(keys) -> dict:
    """The scale factors named by ``keys`` (of SCALES), from
    harness/gen_sf.py (fixed generator seed, so every run and every commit
    reads identical tables); generated once per checkout."""
    from harness import gen_sf

    out = {}
    for key in keys:
        sf = SCALES[key]
        d = os.path.join(WORK, "data", f"sf{sf}")
        if not os.path.isfile(os.path.join(d, "_complete")):
            tmp = f"{d}.tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            with contextlib.redirect_stdout(sys.stderr):
                gen_sf.generate(sf, tmp)
            open(os.path.join(tmp, "_complete"), "w").close()
            shutil.rmtree(d, ignore_errors=True)
            os.rename(tmp, d)
        out[key] = d
    return out


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # never leave the JVM behind
            proc.kill()
            proc.wait()


# ------------------------------------------------------------------ op loop

class Runner:
    def __init__(self, wl):
        self.wl = wl
        self.next_id = 0
        self.oracle_s = 0.0  # time spent in checks, kept out of setup_s
        self._turn: dict[str, int] = {}

    def _probe(self, key: str, probes):
        """With two probes, each statement key alternates between them,
        and half of the keys start with the second: every statement is
        timed both ways, in both early and late passes."""
        if len(probes) == 1:
            return probes[0]
        turn = self._turn.setdefault(key, len(self._turn) % 2)
        self._turn[key] = turn + 1
        return probes[turn % 2]

    def run_pass(self, ops, probes) -> list:
        from perfbench.probe import OpRecord

        wl = self.wl
        out = []
        for op in ops:
            probe = self._probe(op.key, probes)
            wl.before(op, probe)
            rec = OpRecord(self.next_id, op.kind, op.key)
            self.next_id += 1
            df = pdf = None
            probe.start(rec)
            t0 = time.perf_counter()
            try:
                df, pdf = wl.run(op, probe, rec)
            except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                rec.ok = False
                _log(f"op {op.key} raised:\n{traceback.format_exc()}")
            rec.wall_ms = (time.perf_counter() - t0) * 1e3
            probe.stop(rec)
            if rec.ok:
                probe.finish(rec, df, rec.cache_hit is not True)
                rec.rows = len(pdf) if pdf is not None else 0
                t_check = time.perf_counter()
                try:
                    rec.ok = wl.check(op, rec, df, pdf)
                except Exception:  # noqa: BLE001
                    rec.ok = False
                    _log(f"oracle for {op.key} raised:\n{traceback.format_exc()}")
                self.oracle_s += time.perf_counter() - t_check
                if not rec.ok:
                    _log(f"op {op.key}: result differs from DuckDB")
            out.append(rec)
        return out


def end_to_end(recs, setup_s: float, headline: list[str]) -> dict:
    ok = [r for r in recs if r.ok]
    lat = [r.wall_ms for r in ok]
    by_key: dict[str, list[float]] = {}
    for r in ok:
        by_key.setdefault(r.key, []).append(r.wall_ms)
    keys = headline or sorted(by_key)
    return {
        "setup_s": setup_s,
        "op_p50_ms": hd_quantile(lat, 0.5),
        "op_p90_ms": hd_quantile(lat, 0.9),
        "ops_per_s": len(lat) / (sum(lat) / 1e3) if lat else 0.0,
        "headline_total_s": sum(_median(by_key.get(k, [])) for k in keys) / 1e3,
        "read_p50_ms": hd_quantile([r.wall_ms for r in ok if r.kind == "read"], 0.5),
    }


def per_layer(plain, traced, stats: dict, rows=()) -> dict:
    """Per-layer medians (times) and per-op means (counts) of the traced
    ops; ``rows`` adds a per-statement median for each of those keys."""
    from perfbench.probe import TOP_SPANS

    t = [r for r in traced if r.ok]

    def span(name):
        return _median(r.span_ms[name] for r in t if name in r.span_ms)

    sql_ops = [r for r in t if "frontend.rewrite" in r.span_ms]
    # plan-cache hits are counted on every read: they are rare, and
    # tracing does not change them
    reads = [r for r in plain + traced if r.ok and r.cache_hit is not None]
    unattr = [r.wall_ms - sum(r.span_ms.get(k, 0.0) for k in TOP_SPANS) for r in t]
    writes = stats.get("writes", [])
    # tracing overhead: traced vs untraced time of the same statements
    both = {r.key for r in t} & {r.key for r in plain if r.ok}
    t_ms = sum(_median(r.wall_ms for r in t if r.key == k) for k in both)
    p_ms = sum(_median(r.wall_ms for r in plain if r.ok and r.key == k) for k in both)
    out = {
        "frontend.rewrite_ms": span("frontend.rewrite"),
        "frontend.tokens": _mean(r.tokens for r in sql_ops),
        "session.build_ms": _median(
            r.span_ms["session.build"] - r.span_ms.get("frontend.rewrite", 0.0)
            for r in t if "session.build" in r.span_ms
        ),
        "session.build_jobs": _mean(r.jobs_build for r in t),
        "session.plan_cache_hit_ratio": _mean(float(r.cache_hit) for r in reads),
        "validate.validate_ms": span("validate"),
        "introspect.schema_text_ms": span("introspect.schema_text"),
        "catalyst.analysis_ms": span("catalyst.analysis"),
        "catalyst.optimization_ms": span("catalyst.optimization"),
        "catalyst.planning_ms": span("catalyst.planning"),
        "exec.fetch_ms": span("exec.fetch"),
        "exec.jobs": _mean(r.jobs for r in t),
        "exec.stages": _mean(r.stages for r in t),
        "exec.tasks": _mean(r.tasks for r in t),
        "exec.result_rows": _mean(r.rows for r in t),
        "warehouse.write_p50_ms": _median(r.wall_ms for r in plain if r.ok and r.kind == "write"),
        "warehouse.commits_per_write": _mean(w["commits"] for w in writes if w["kind"] == "write"),
        "warehouse.bytes_written_per_write": _mean(w["bytes"] for w in writes if w["kind"] == "write"),
        "warehouse.files": float(stats.get("files", 0)),
        "warehouse.checkpoint_ms": _median(w["ms"] for w in writes if w["kind"] == "checkpoint"),
        "warehouse.space_amp": float(stats.get("space_amp", 0.0)),
        "trace.unattributed_ms": _median(unattr),
        "trace.uncovered_ops": float(sum(
            1 for r, u in zip(t, unattr) if u > COVER_ABS_MS + COVER_REL * r.wall_ms
        )),
        "trace.overhead_pct": (t_ms / p_ms - 1.0) * 100.0 if p_ms else 0.0,
    }
    for key in rows:
        out[f"row.{key}_ms"] = _median(r.wall_ms for r in t if r.key == key)
    return out


def run(args, run_dir: str, conf: dict) -> dict:
    from perfbench.probe import NullProbe, SpanProbe
    from perfbench.workloads import WORKLOADS, headline_keys, tpch_rows

    data = ensure_data(WORKLOADS[args.workload].data)
    t0 = time.perf_counter()
    from duckdb_nsql_spark.session import build_spark

    spark = build_spark(app_name="perfbench", cpus=_usable_cpus(), extra_conf=conf)
    spark_s = time.perf_counter() - t0
    wl = WORKLOADS[args.workload](seed=args.seed, work=run_dir, **data)
    try:
        prep = []
        for _ in range(PREPARES):
            t0 = time.perf_counter()
            wl.prepare(spark)
            prep.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.oracle_setup()
        _log(f"oracle set-up {time.perf_counter() - t0:.2f}s")
        runner = Runner(wl)
        t0 = time.perf_counter()
        wl.seed_once()
        warm = []
        for n in range(wl.warmup_passes):
            warm += runner.run_pass(wl.pass_ops(n), [NullProbe()])
        once_s = time.perf_counter() - t0 - runner.oracle_s
        setup_s = spark_s + statistics.median(prep) + once_s
        _log(
            f"setup {setup_s:.2f}s (spark {spark_s:.2f}, prepare {prep},"
            f" seed+{wl.warmup_passes} warm-up passes {once_s:.2f})"
        )

        probes = [NullProbe()] + ([SpanProbe(spark)] if args.trace else [])
        recs = []
        n = 0  # timed passes done
        t_loop = time.perf_counter()
        while True:
            recs += runner.run_pass(wl.pass_ops(wl.warmup_passes + n), probes)
            n += 1
            wl.after_pass(n, bool(args.trace))
            # stop at the pass boundary nearest to --seconds: a workload
            # whose pass is longer than the run times one pass, not two
            loop_s = time.perf_counter() - t_loop
            if n >= len(probes) and loop_s + loop_s / n / 2 >= args.seconds:
                break
        extra_bad = wl.finish()
        warm_bad = sum(1 for r in warm if not r.ok)
        failed = sum(1 for r in recs if not r.ok) + extra_bad
        _log(
            f"{len(recs)} ops in {n} passes, {loop_s:.2f}s; failed {failed}"
            f" (failed_frac {failed / max(len(recs), 1):.4f}); warm-up failed {warm_bad}"
        )
        if args.trace:
            rows = list(tpch_rows()) if wl.name == "tpch_sf01" else []
            metrics = per_layer(
                [r for r in recs if not r.traced], [r for r in recs if r.traced],
                wl.layer_stats(), rows,
            )
            units = dict(PER_LAYER, **{f"row.{k}_ms": "ms" for k in rows})
            _write_trace(args, probes[1], [r for r in recs if r.traced])
        else:
            hk = headline_keys() if wl.name == "tpch_sf01" else []
            metrics = end_to_end(recs, setup_s, hk)
            units = dict(END_TO_END)
        for k, v in metrics.items():
            _log(f"{k} = {v:.6g} {units[k]}")
        per_key: dict[str, list[float]] = {}
        for r in recs:
            per_key.setdefault(r.key, []).append(r.wall_ms)
        _log("per-key median ms: " + ", ".join(
            f"{k}={_median(v):.1f}" for k, v in sorted(per_key.items())
        ))
        return {
            "correct": failed == 0 and warm_bad == 0,
            "attempted": len(recs),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        wl.close()
        _stop_spark(spark)
        _log("spark stopped")


def _write_trace(args, probe, recs) -> None:
    path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    ops = [
        {
            "op": r.op_id, "kind": r.kind, "key": r.key, "ok": r.ok,
            "wall_ms": r.wall_ms, "spans_ms": r.span_ms, "tokens": r.tokens,
            "cache_hit": r.cache_hit, "jobs_build": r.jobs_build,
            "jobs": r.jobs, "stages": r.stages, "tasks": r.tasks, "rows": r.rows,
        }
        for r in recs
    ]
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "ops": ops,
                   "spans": probe.spans}, f)
    _log(f"spans written to {path}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("duckdb_nsql_spark", "harness", "bench.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            _log(f"{need} not found under {ROOT}: run from a checkout of the repo")
            return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(WORKLOADS)}")
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    conf = _isolate(run_dir)
    try:
        result = run(args, run_dir, conf)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
