"""Benchmark for the yaschva_spark validation engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload code_job --seed 1 --seconds 10 --trace 0

One run starts one Spark driver sized for the host it runs on, generates
(or reuses) the workload's inputs for ``--seed``, then

1. sets up ``SETUPS`` times: the launch itself, then stopping the session
   and starting a new one with ``session.get_spark``, each followed by one
   cold operation. ``setup_s`` is the median of those session-start to
   first-result times (input generation excluded);
2. runs operations back to back for ``--seconds`` seconds (closed loop, one
   caller);
3. checks every operation's output against a reference (see
   ``workloads.py``) and counts failures.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the operations alternate between
untraced and traced, and the metrics are the per-layer numbers of the
traced ones (spans from ``spans.py``, Spark-side counters from
``sparkstats.py``) plus the tracing overhead. The spans are written to
``.perfbench/traces/``. Everything the run writes stays under
``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

#: session start + first operation, repeated this many times per run
SETUPS = 3
#: driver heap: well under a 15 GB host's RAM, with room for the JVM's own
#: overhead and the Python workers
DRIVER_MEMORY = "3g"
#: round-trip probe wall that maps to a scale of 1: rows_per_s and
#: batch_p50_s are the raw values scaled by probe wall / PROBE_REF_S (the
#: repo's paired-probe protocol; raw values go to the run record)
PROBE_REF_S = 0.5
#: fixed in-process interpreter sample size (interp.us_per_row)
INTERP_SAMPLE = 2000


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _launch_env() -> dict:
    """Environment and Spark settings sized for the host it runs on; every
    path inside the work directory."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(_cpus()),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }


class RssSampler:
    """Peak summed resident memory of this process and all descendants
    (the driver JVM and its Python workers), sampled every 100 ms."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> int:
        kids: dict = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(p))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(0.1)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join()


def probe_s(spark, n: int = 1_250_000) -> float:
    """The pure-CPU ambient-load probe of ``bench.py``: sha2 -> bit_xor
    over ``n`` generated ids (codegen only; no I/O, shuffle or Python)."""
    from pyspark.sql import functions as F

    expr = F.bit_xor(
        F.conv(F.substring(F.sha2(F.col("id").cast("string"), 256), 1, 15), 16, 10).cast("long")
    )
    t = time.monotonic()
    spark.range(0, n, 1, 4 * _cpus()).agg(expr).collect()
    return time.monotonic() - t


def jobs_probe_s(spark, jobs: int = 10) -> float:
    """Round-trip probe: ``jobs`` one-task jobs back to back. Their wall is
    py4j calls, job scheduling and task launch: the host latency that
    drove both workloads' run-to-run spread on a 4-core, 15 GB host."""
    t = time.monotonic()
    for _ in range(jobs):
        spark.range(0, 10, 1, 1).count()
    return time.monotonic() - t


def interp_us_per_row() -> float:
    """In-process interpreter cost on a fixed, seed-independent sample of
    the screened corpus's row shapes."""
    from workloads import SCREENED_SCHEMA

    from yaschva_spark.interp import validate

    rows = []
    for i in range(INTERP_SAMPLE):
        lang = ("en", "de", "fr", "es", "zh")[i % 5]
        n = (i * 37) % 500 + (0.5 if i % 23 == 0 else 0)
        ids = [i, i * 7 % 1000, i * 13 % 1000] if i % 19 else "none"
        rows.append({"meta": {"lang": lang, "n": n}, "ids": ids, "tag": f"t{i}" if i % 11 else ""})
    best = []
    for _ in range(3):
        t = time.perf_counter()
        for r in rows:
            validate(SCREENED_SCHEMA, r)
        best.append(time.perf_counter() - t)
    return statistics.median(best) / len(rows) * 1e6


class Run:
    def __init__(self, args):
        self.args = args
        self.conf = _launch_env()
        import workloads

        self.wl = workloads.make(args.workload)
        self.ops: list = []  # (phase, wall_s, Op or None)
        self.tracer = None

    # -- session -------------------------------------------------------------
    def start_session(self):
        from yaschva_spark import session

        t = time.monotonic()
        self.spark = session.get_spark(app_name="perfbench", extra_conf=self.conf)
        if self.tracer is not None:
            self.tracer.py4j.install(self.spark)
        return t

    def one_op(self, phase: str, traced: bool = False, wl=None):
        """Run one operation of ``wl`` (default: the run's workload);
        returns its wall time, or None if it raised."""
        wl = wl or self.wl
        t = time.monotonic()
        try:
            if traced:
                # the wall is the root span's: the Spark-side reads after it
                # are bookkeeping, not part of the operation
                op, wall = self.trace_hook(wl, lambda on_action: wl.op(self.spark, on_action))
            else:
                op = wl.op(self.spark)
                wall = time.monotonic() - t
        except Exception as ex:  # a failed operation is counted, not fatal
            print(f"# {phase} operation failed: {type(ex).__name__}: {ex}", file=sys.stderr)
            self.ops.append((phase, time.monotonic() - t, None))
            return None
        self.ops.append((phase, wall, op))
        return wall

    def session_op(self) -> None:
        """The first operation of a fresh session."""
        if hasattr(self.wl, "start_session"):
            self.wl.start_session()
        self.one_op("setup")

    # -- the run -------------------------------------------------------------
    def execute(self) -> dict:
        args = self.args
        if args.trace:
            from spans import Tracer

            self.tracer = Tracer()
        t0 = time.monotonic()
        self.start_session()
        launch_s = time.monotonic() - t0
        self.wl.prepare(self.spark, args.seed, WORK)
        prepare_s = time.monotonic() - t0 - launch_s
        if self.tracer is not None:
            self.tracer.install()
            self.tracer.active = True
        with RssSampler() as rss:
            # the first set-up is the process launch itself (input
            # generation excluded); the others restart the session in the
            # running JVM, so the median is a warm-JVM session start
            t = time.monotonic()
            self.session_op()
            setups = [launch_s + time.monotonic() - t]
            for _ in range(SETUPS - 1):
                self.spark.stop()
                t = self.start_session()
                self.session_op()
                setups.append(time.monotonic() - t)
            if self.tracer is not None:
                self.tracer.active = False
                self.trace_prepare()
            jobs_probe_s(self.spark, 1)
            probes = [jobs_probe_s(self.spark)]
            walls, traced_walls, untraced_walls = [], [], []
            t_end = time.monotonic() + args.seconds
            i = 0
            while time.monotonic() < t_end:
                traced = bool(self.tracer) and i % 2 == 1
                w = self.one_op("measure", traced)
                if w is not None:
                    (traced_walls if traced else untraced_walls).append(w)
                    walls.append(w)
                i += 1
            probes.append(jobs_probe_s(self.spark))
            probe_s(self.spark, 10_000)  # compiles the CPU probe's plan
            cpu_probe = probe_s(self.spark)
        extra = self.trace_probes() if self.tracer is not None else {}
        t_check = time.monotonic()
        failed = 0
        for phase, _, op in self.ops:
            try:
                ok = op is not None and op.check(self.spark)
            except Exception as ex:
                print(f"# check failed: {type(ex).__name__}: {ex}", file=sys.stderr)
                ok = False
            failed += not ok
        measured = [(w, op) for ph, w, op in self.ops if ph == "measure" and op is not None]
        wall = sum(w for w, _ in measured)
        rows = sum(op.rows for _, op in measured)
        probe = statistics.mean(probes)
        raw = {
            "rows_per_s": rows / wall if wall else 0.0,
            "batch_p50_s": statistics.median(walls) if walls else 0.0,
            "setup_s": statistics.median(setups),
        }
        if not args.trace:
            # the measured window is paired with the round-trip probe taken
            # around it: raw value scaled by probe wall / PROBE_REF_S.
            # setup_s stays raw: set-ups run before the probes, and their
            # raw median spreads less than any probe-scaled one measured
            scale = probe / PROBE_REF_S
            metrics = {
                "rows_per_s": (raw["rows_per_s"] * scale, "1/s"),
                "batch_p50_s": (raw["batch_p50_s"] / scale, "s"),
                "setup_s": (raw["setup_s"], "s"),
            }
        else:
            metrics = self.layer_metrics(
                launch_s, cpu_probe, probes, traced_walls, untraced_walls, extra
            )
            metrics["session.peak_rss_mb"] = (rss.peak / 2**20, "MB")
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpu_count": os.cpu_count(), "cpus_used": _cpus(),
            "loadavg": os.getloadavg(), "cpu_probe_s": cpu_probe, "jobs_probe_s": probes,
            "raw": raw,
            "setups_s": setups, "op_walls_s": walls, "peak_rss_mb": rss.peak / 2**20,
            "phases_s": {"launch": launch_s, "prepare": prepare_s,
                         "check": time.monotonic() - t_check, "total": time.monotonic() - t0},
        }
        os.makedirs(WORK, exist_ok=True)
        with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
            f.write(json.dumps(record) + "\n")
        print("# run: " + json.dumps(record))
        return {
            "correct": failed == 0,
            "attempted": len(self.ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    # -- traced mode ---------------------------------------------------------
    def trace_prepare(self) -> None:
        from sparkstats import SparkStats

        self.stats = SparkStats(self.spark)
        self.per_op: list[dict] = []

    def trace_hook(self, wl, op_fn):
        """Run ``op_fn`` (an operation of ``wl``) inside a root span and
        gather the Spark-side counters of that operation."""
        import sparkstats
        from spans import descendants

        tr = self.tracer
        mark = self.stats.mark()
        tr.returned.clear()
        tr.active = True
        seen: dict = {}

        def on_action(df):  # json probe: the executed digest DataFrame
            seen["df"] = df
            seen["persist_bytes"] = self.stats.storage_bytes()
            seen["python"] = self.stats.plan_metrics(df, "MapInPandas")

        try:
            with tr.span("op." + wl.name, "bench") as root:
                op = op_fn(on_action)
        finally:
            tr.active = False
        execs = self.stats.since(mark)
        inner = [root] + descendants(tr.spans, root)
        for e in execs:
            # parent: the innermost traced call that was running when the
            # execution started (the one that submitted it)
            t = e.start_ms / 1e3
            host = max(
                (s for s in inner if s.start <= t <= s.end), key=lambda s: s.start, default=root
            )
            tr.add(f"sql.{e.id}", "exec", t, e.end_ms / 1e3, host.id,
                   description=e.description[:120])
        cat = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        dfs = [seen["df"]] if "df" in seen else list(tr.returned)
        for df in dfs:
            if "df" not in seen:
                df._jdf.queryExecution().executedPlan()  # plan what the job planned
            for k, v in self.stats.catalyst_ms(df).items():
                cat[k] += v
        self.per_op.append(
            {"kind": wl.name, "root": root, "execs": execs, "catalyst": cat, "seen": seen,
             "coverage": wl.coverage() if hasattr(wl, "coverage") else None,
             "exec": sparkstats.exec_totals(execs)}
        )
        return op, root.dur

    def trace_probes(self) -> dict:
        """Layers the workload itself does not reach, measured once per
        traced run: the screened JSON path after ``code_job`` (a cold and a
        warm call), the real streaming sink after ``stream_batches``."""
        import sparkstats
        import workloads

        if self.args.workload == "code_job":
            js = workloads.JsonScreened()
            js.prepare(self.spark, self.args.seed, WORK)
            self.tracer.active = True  # the cold call's screen compile
            self.one_op("json", traced=True, wl=js)
            self.one_op("json", traced=True, wl=js)
            return {}
        mark = self.stats.mark()
        self.tracer.active = True
        try:
            q, op = self.wl.stream_probe(self.spark)
        finally:
            self.tracer.active = False
        self.ops.append(("stream", 0.0, op))
        out = sparkstats.progress_durations(q)
        writes = [e for e in self.stats.since(mark) if "InsertIntoHadoopFsRelation" in e.plan]
        out["n_batches"] = len(out.get("addBatch", []))
        out["writes"] = len(writes)
        out["write_s"] = sum(e.wall_s for e in writes)
        return out

    def layer_metrics(self, launch_s, cpu_probe, probes, traced_walls, untraced_walls, extra):
        from spans import covered, descendants, self_time

        tr = self.tracer
        spans = tr.spans
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731

        def named(name):
            return [s for s in spans if s.name == name]

        def per_op(fn, kind=self.args.workload):
            return med([fn(o) for o in self.per_op if o["kind"] == kind])

        def per_job(fn):  # run_validation_job's internal actions
            return per_op(fn, "code_job")

        def per_json(fn):  # the probe's second, warm call
            ops = [o for o in self.per_op if o["kind"] == "json_screened"]
            return fn(ops[-1]) if ops else 0

        def in_op(o, pred):
            return [s for s in descendants(spans, o["root"]) if pred(s)]

        def sum_dur(o, name):
            return sum(s.dur for s in in_op(o, lambda s: s.name == name))

        def sum_py4j(o, name):
            return sum(s.py4j for s in in_op(o, lambda s: s.name == name))

        def layer_self(o, layer):
            return sum(self_time(spans, s) for s in in_op(o, lambda s: s.layer == layer))

        def exec_where(o, pred, field="wall"):
            es = [e for e in o["execs"] if pred(e)]
            if field == "wall":
                return sum(e.wall_s for e in es)
            return sum(st[field] for e in es for st in e.stages.values())

        is_viol = lambda e: "/violations" in e.plan and "InsertIntoHadoopFsRelation" in e.plan  # noqa: E731
        is_man = lambda e: "_manifest_stage_" in e.plan  # noqa: E731
        is_dup = lambda e: "dup_count" in e.plan  # noqa: E731
        is_tot = lambda e: "manifest" in e.plan and not is_man(e) and "Insert" not in e.plan  # noqa: E731
        nb = max(1, extra.get("n_batches", 0))

        screen = named("jsonscreen.compile_screens")
        json_call = "engine.validate_json_table"
        cov = lambda o, k: (o["coverage"] or {}).get(k) or 0  # noqa: E731
        py = lambda o, k: o["seen"].get("python", {}).get(k, 0)  # noqa: E731
        m = {
            "session.launch_s": (launch_s, "s"),
            "session.start_s": (med([s.dur for s in named("session.get_spark")]), "s"),
            "typed.compile_s": (per_op(lambda o: sum_dur(o, "typed.compile_schema")), "s"),
            "typed.py4j_calls": (per_op(lambda o: sum_py4j(o, "typed.compile_schema")), "count"),
            "engine.build_s": (per_op(lambda o: sum_dur(o, "engine.validate_table")), "s"),
            "engine.py4j_calls": (per_op(lambda o: sum_py4j(o, "engine.validate_table")), "count"),
            "engine.json_build_s": (per_json(lambda o: sum_dur(o, json_call)), "s"),
            "engine.json_py4j_calls": (per_json(lambda o: sum_py4j(o, json_call)), "count"),
            "engine.residue_rows": (
                per_json(lambda o: cov(o, "n_rows") - cov(o, "n_proven") - cov(o, "n_proven_fail")),
                "count",
            ),
            "engine.persist_bytes": (per_json(lambda o: o["seen"].get("persist_bytes", 0)), "bytes"),
            "catalyst.analysis_ms": (per_op(lambda o: o["catalyst"]["analysis"]), "ms"),
            "catalyst.optimization_ms": (per_op(lambda o: o["catalyst"]["optimization"]), "ms"),
            "catalyst.planning_ms": (per_op(lambda o: o["catalyst"]["planning"]), "ms"),
            # the screen compiles once per session (memoized): these come
            # from the probe's first call
            "jsonscreen.compile_s": (med([s.dur for s in screen]), "s"),
            "jsonscreen.py4j_calls": (med([s.py4j for s in screen]), "count"),
            "jsonscreen.proven_pass_rows": (per_json(lambda o: cov(o, "n_proven")), "count"),
            "jsonscreen.proven_fail_rows": (per_json(lambda o: cov(o, "n_proven_fail")), "count"),
            "jsonscreen.jvm_fraction": (per_json(lambda o: cov(o, "jvm_fraction")), "ratio"),
            "interp.python_rows": (per_json(lambda o: py(o, "pythonNumRowsReceived")), "count"),
            "interp.python_bytes_sent": (per_json(lambda o: py(o, "pythonDataSent")), "bytes"),
            "interp.python_bytes_received": (per_json(lambda o: py(o, "pythonDataReceived")), "bytes"),
            "interp.task_s": (per_json(lambda o: py(o, "pythonTotalTime") / 1e3), "s"),
            "interp.us_per_row": (interp_us_per_row(), "us"),
            "checks.dup_s": (per_op(lambda o: exec_where(o, is_dup, "run_ms") / 1e3), "s"),
            "checks.dup_shuffle_bytes": (per_op(lambda o: exec_where(o, is_dup, "shuffle_write_bytes")), "bytes"),
            "pipeline.violations_write_s": (per_job(lambda o: exec_where(o, is_viol)), "s"),
            "pipeline.manifest_write_s": (per_job(lambda o: exec_where(o, is_man)), "s"),
            "pipeline.dup_summary_s": (per_job(lambda o: exec_where(o, is_dup)), "s"),
            "pipeline.publish_s": (per_job(lambda o: sum_dur(o, "pipeline._hadoop_publish")), "s"),
            "pipeline.totals_s": (per_job(lambda o: exec_where(o, is_tot)), "s"),
            "pipeline.sql_executions": (per_job(lambda o: len(o["execs"])), "count"),
            # driver-side time per micro-batch: the foreachBatch wall minus
            # the writes it ran
            "streaming.batch_build_s": (
                max(0.0, sum(extra.get("addBatch", [])) / 1e3 - extra.get("write_s", 0.0)) / nb,
                "s",
            ),
            "streaming.add_batch_ms": (med(extra.get("addBatch", [])), "ms"),
            "streaming.wal_commit_ms": (med(extra.get("walCommit", [])), "ms"),
            "streaming.writes_per_batch": (extra.get("writes", 0) / nb, "count"),
            "exec.task_cpu_s": (per_op(lambda o: o["exec"]["cpu_ns"] / 1e9), "s"),
            "exec.task_run_s": (per_op(lambda o: o["exec"]["run_ms"] / 1e3), "s"),
            "exec.tasks": (per_op(lambda o: o["exec"]["tasks"]), "count"),
            "exec.scan_bytes": (per_op(lambda o: o["exec"]["input_bytes"]), "bytes"),
            "exec.shuffle_write_bytes": (per_op(lambda o: o["exec"]["shuffle_write_bytes"]), "bytes"),
            "exec.spill_bytes": (
                per_op(lambda o: o["exec"]["mem_spill_bytes"] + o["exec"]["disk_spill_bytes"]),
                "bytes",
            ),
            "host.probe_s": (cpu_probe, "s"),
            "host.jobs_probe_s": (med(probes), "s"),
        }
        for layer in ("typed", "engine", "checks", "pipeline"):
            m[f"{layer}.self_s"] = (per_op(lambda o, la=layer: layer_self(o, la)), "s")
        m["jsonscreen.self_s"] = (med([self_time(spans, s) for s in screen]), "s")
        # concurrent SQL executions overlap: the exec layer's busy wall is
        # the union of their intervals
        m["exec.self_s"] = (
            per_op(lambda o: covered(in_op(o, lambda s: s.layer == "exec"))), "s"
        )
        m["bench.self_s"] = (per_op(lambda o: self_time(spans, o["root"])), "s")
        over = med(traced_walls) / med(untraced_walls) - 1 if traced_walls and untraced_walls else 0.0
        m["trace.overhead_pct"] = (100 * over, "%")
        summary = {k: v for k, (v, _) in m.items()}
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tr.dump(
            os.path.join(WORK, "traces", f"{self.args.workload}-seed{self.args.seed}.json"), summary
        )
        return m


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the driver JVM to exit (it exits
    when its stdin closes; its Python workers went with the session)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("code_job", "stream_batches"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.exists(os.path.join(ROOT, "yaschva_spark", "__init__.py")):
        print(f"perfbench: no yaschva_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run = Run(args)
    try:
        result = run.execute()
    finally:
        spark = getattr(run, "spark", None)
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
