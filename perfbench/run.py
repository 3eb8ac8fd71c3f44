"""Layered benchmark of the engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload relational-llm --seed 1 --seconds 3 --trace 0

Runs from the root of a checkout.  Generates its seeded inputs into a
per-run directory under ``.perfbench-run/``, starts a
``local[nproc]`` session, builds what the workload needs, runs one
untimed pass whose outputs are checked, then runs timed passes (one
client, one op at a time, ``spark.catalog.clearCache()`` before each)
until ``--seconds`` have passed.  The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``, the
end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``.  See README.md for the metric definitions.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402
import stats  # noqa: E402
import workloads as W  # noqa: E402

WORKLOADS = ("relational-llm", "mapreduce-text")
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "peak_rss_mb": "MB",
}
# per-layer metric -> unit; the traced run reports every one of them
# (0 where the workload does not reach the layer or op)
PER_LAYER = {
    "session.start_s": "s",
    "sources.load_s": "s",
    "sources.load_jobs": "count",
    "plans.construct_s": "s",
    "plans.construct_self_s": "s",
    "plans.construct_jobs": "count",
    "plans.construct_share": "ratio",
    "plans.cached_rdds_after": "count",
    "plans.storage_mb_after": "MB",
    "exec.execute_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.gc_s": "s",
    "exec.core_busy_frac": "ratio",
    "exec.task_skew": "ratio",
    "exec.python_mb": "MB",
    "operators.bucket_build_s": "s",
    "operators.index_build_s": "s",
    "operators.index_builds": "count",
    "operators.index_reuse_frac": "ratio",
    "operators.text.wordcount_s": "s",
    "operators.text.inverted_index_s": "s",
    "operators.mapreduce.wordcount_s": "s",
    "operators.mapreduce.inverted_index_s": "s",
    "operators.kvstore.upsert_s": "s",
    "operators.kvstore.upsert_mb": "MB",
    "operators.kvstore.get_s": "s",
    "operators.kvstore.get_input_mb": "MB",
    "trace.overhead_s": "s",
}
for _op in W.RELATIONAL_OPS + W.LLM_OPS + W.MAPREDUCE_OPS:
    PER_LAYER[f"op.{_op}.construct_s"] = "s"
    PER_LAYER[f"op.{_op}.execute_s"] = "s"
PKG = "distributedmapreduce_spark"


# ---------------------------------------------------------------------------
# environment
# ---------------------------------------------------------------------------


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def configure_env(run_dir: str, trace: bool) -> dict:
    """Deployment settings for this machine and the per-run directories;
    must run before the first pyspark import launches the JVM."""
    cpus = len(os.sched_getaffinity(0))  # nproc
    # 2 GiB holds the workloads' data many times over.  The heap is
    # fixed (-Xms = -Xmx): with G1 growing it on demand, whether it
    # grew in a run depended on GC timing, and the resident size of
    # the same run jumped between two levels ~400 MB apart
    mem_mb = min(2048, _mem_total_mb() // 4)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = "file://" + os.path.join(run_dir, "eventlog")
        confs["spark.eventLog.rolling.enabled"] = "false"
        confs["spark.eventLog.compress"] = "false"
    args = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
            "SPARK_GRAFT_JAVA_OPTS": f"-Xms{mem_mb}m",
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "PYTHONDONTWRITEBYTECODE": "1",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_SUBMIT_ARGS": f"{args} pyspark-shell",
            # the launcher JVM and the driver JVM: temp files in the run
            # dir, no hsperfdata file in the system temp dir
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    sys.path.insert(0, ROOT)
    return {"cpus": cpus, "driver_mem": f"{mem_mb}m"}


def calibration_ms() -> float:
    """Fixed single-thread busy loop: moves with the box, never with
    the engine's code."""
    t0 = time.perf_counter()
    s = 0
    for i in range(5_000_000):
        s += i
    if s <= 0:
        raise AssertionError("calibration loop did not run")
    return (time.perf_counter() - t0) * 1000.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb(pid: int) -> tuple[float, float]:
    """Resident memory of every descendant of ``pid`` (the driver JVM
    and its Python workers), not counting ``pid`` itself: (JVM, rest).
    Counted as PSS, so the pages forked workers share with their
    daemon are counted once, not once per worker."""
    jvm = rest = 0
    for c in descendants(pid):
        try:
            with open(f"/proc/{c}/comm") as f:
                is_jvm = f.read().strip() == "java"
            with open(f"/proc/{c}/smaps_rollup") as f:
                kb = next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
        except (OSError, StopIteration, ValueError):
            continue
        if is_jvm:
            jvm += kb
        else:
            rest += kb
    return jvm / 1024.0, rest / 1024.0


class RssSampler(threading.Thread):
    def __init__(self, period: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak_mb = 0.0
        self.peak_parts = (0.0, 0.0)
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(self.period):
            parts = tree_rss_mb(os.getpid())
            if sum(parts) > self.peak_mb:
                self.peak_mb, self.peak_parts = sum(parts), parts

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)


# ---------------------------------------------------------------------------
# layer probes (traced run only)
# ---------------------------------------------------------------------------


def patch_everywhere(original, wrapper) -> None:
    """Rebind every module-level name in the engine that refers to
    ``original`` (its defining module and every ``from x import f``)."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PKG or name.startswith(PKG + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, wrapper)


class Probes:
    """Spans around the engine's public entry points that the ops
    reach: table loads, index-artifact lookups and bucket builds."""

    def __init__(self, tracer: stats.Tracer, spark) -> None:
        from distributedmapreduce_spark.operators import bucketed, index_store
        from distributedmapreduce_spark.sources import testdata

        self.tracer = tracer
        self.sc = spark.sparkContext
        self.index_lookups: list[tuple[bool, bool]] = []  # (in_pass, reused)
        self.in_pass = False
        tr = tracer

        load = testdata.load_table

        def load_table(spark, name, *a, **kw):
            with tr.span("sources.load", table=name):
                return load(spark, name, *a, **kw)

        cached = index_store.cached_index

        def cached_index(spark, kind, src_path, build_fn, partition_by=None,
                         params=None, stable_src=False):
            path = index_store.index_path(kind, src_path, params, stable_src=stable_src)
            reused = os.path.exists(os.path.join(path, "_SUCCESS"))
            if tr.enabled:
                self.index_lookups.append((self.in_pass, reused))
            with tr.span("operators.index", kind=kind, built=not reused):
                return cached(spark, kind, src_path, build_fn, partition_by,
                              params, stable_src)

        bucket = bucketed.bucketed_table

        def bucketed_table(*a, **kw):
            with tr.span("operators.bucket"):
                return bucket(*a, **kw)

        patch_everywhere(load, load_table)
        patch_everywhere(cached, cached_index)
        patch_everywhere(bucket, bucketed_table)

    def job_group(self, group: str | None) -> None:
        if not self.tracer.enabled:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def storage(self) -> tuple[int, float]:
        jsc = self.sc._jsc
        n = jsc.getPersistentRDDs().size()
        size = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
        return n, size / stats.MB


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


class Run:
    def __init__(self, args, run_dir: str) -> None:
        self.args = args
        self.run_dir = run_dir
        self.trace = bool(args.trace)
        self.tracer = stats.Tracer(os.path.basename(run_dir))
        self.attempted = 0
        self.failures: list[str] = []
        self.report: list[tuple[str, float, str]] = []  # extra printed lines
        self.untimed_s = 0.0  # input generation and output checks
        self.probes: Probes | None = None
        self.after_op: list[tuple[int, float]] = []
        self.spark = None
        self.cpus = 1

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"FAIL {what}", flush=True)

    def untimed(self, fn, *a):
        t0 = time.time()
        try:
            return fn(*a)
        finally:
            self.untimed_s += time.time() - t0

    # -- ops -------------------------------------------------------------

    def run_op(self, op: W.Op, collect: bool, pass_no: int):
        """One op execution: clearCache, build, materialize.  Returns
        (construct_s, execute_s, result) or None if it raised."""
        self.spark.catalog.clearCache()
        self.attempted += 1
        tr, pr = self.tracer, self.probes
        with tr.span("op", op=op.name, layer=op.layer, pass_no=pass_no):
            try:
                t0 = time.time()
                with tr.span("plans.construct", op=op.name):
                    if pr:
                        pr.job_group(f"{op.name}:construct")
                    plan = op.plan()
                t1 = time.time()
                with tr.span("exec.execute", op=op.name):
                    if pr:
                        pr.job_group(f"{op.name}:execute")
                    result = (op.collect if collect else op.execute)(plan)
                t2 = time.time()
            except Exception:  # noqa: BLE001 - the op is counted as failed
                self.fail(f"{op.name}: raised\n{traceback.format_exc(limit=3)}")
                return None
            finally:
                if pr:
                    pr.job_group(None)
        if pr and tr.enabled:
            self.after_op.append(pr.storage())
        return t1 - t0, t2 - t1, result

    def check(self, op: W.Op, result) -> None:
        reason = self.untimed(op.verify, result)
        if reason:
            self.fail(f"{op.name}: {reason}")

    def check_pass(self, order: list[W.Op]) -> None:
        """The untimed pass: collect every op and check its output."""
        for op in order:
            out = self.run_op(op, True, -1)
            if out is None:
                continue
            self.check(op, out[2])

    def timed_passes(self, order: list[W.Op]) -> list[dict]:
        """Whole passes until ``--seconds`` have passed.  In a traced
        run, untraced and traced passes alternate, starting and ending
        untraced (at least three), so the tracing overhead is not
        confounded with warm-up."""
        passes = []
        t_end = time.time() + self.args.seconds
        n = 0
        while True:
            traced = self.trace and n % 2 == 1
            self.tracer.enabled = traced
            if self.probes:
                self.probes.in_pass = True
            ops = []
            t0 = time.time()
            with self.tracer.span("pass", pass_no=n):
                for op in order:
                    out = self.run_op(op, False, n)
                    if out is not None:
                        ops.append((op, out[0], out[1]))
            passes.append(
                {"wall": time.time() - t0, "traced": traced, "ops": ops,
                 "complete": len(ops) == len(order)}
            )
            n += 1
            if self.probes:
                self.probes.in_pass = False
            if time.time() >= t_end and (not self.trace or (n >= 3 and n % 2)):
                break
        self.tracer.enabled = False
        return passes

    # -- main ------------------------------------------------------------

    def execute(self) -> dict:
        env = configure_env(self.run_dir, self.trace)
        self.cpus = env["cpus"]
        env["calibration_ms"] = self.untimed(calibration_ms)
        sampler = RssSampler()
        sampler.start()
        try:
            return self._execute(env, sampler)
        finally:
            sampler.stop()
            if self.spark is not None:
                stop_spark(self.spark)

    def _execute(self, env: dict, sampler: RssSampler) -> dict:
        args = self.args
        t0 = time.time()
        from distributedmapreduce_spark.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{args.workload}")
        session_start_s = time.time() - t0
        from distributedmapreduce_spark.operators import index_store

        # a fresh artifact root per run, so every run does the same builds
        index_store._INDEX_ROOT = os.path.join(self.run_dir, "indexes")
        if self.trace:
            self.probes = Probes(self.tracer, self.spark)
            self.tracer.enabled = True

        if args.workload == "mapreduce-text":
            wl = self.untimed(W.mapreduce_text_workload, self.spark, self.run_dir, args.seed)
            oracle = None
        else:
            sf_dir = W.sf_dir()
            oracle = self.untimed(W.Oracle, sf_dir, env["cpus"])
            wl = W.registry_workload(
                args.workload, self.spark, sf_dir, W.RELATIONAL_OPS + W.LLM_OPS, oracle
            )
        by_name = {op.name: op for op in wl.ops}
        order = [by_name[n] for n in gen.op_order(args.seed, list(by_name))]

        builds = {}
        for name, build in wl.builds.items():
            t0 = time.time()
            with self.tracer.span("build", build=name):
                build()
            builds[name] = time.time() - t0
            self.report.append((name, builds[name], "s"))
        t0 = time.time()
        self.check_pass(order)
        setup_s = time.time() - T_START - self.untimed_s
        self.report += [
            ("session_start_s", session_start_s, "s"),
            ("check_pass_s", time.time() - t0, "s"),
            ("untimed_s", self.untimed_s, "s"),
        ]
        self.tracer.enabled = False

        passes = self.timed_passes(order)

        # end-of-run checks: rows-only ops again, and the store contents
        for op in order:
            if op.recheck:
                out = self.untimed(self.run_op, op, True, -2)
                if out is not None:
                    self.check(op, out[2])
        for chk in wl.final_checks:
            reason = self.untimed(chk)
            if reason:
                self.fail(f"final check: {reason}")
        if oracle is not None:
            oracle.close()

        env.update(
            pyspark=__import__("pyspark").__version__,
            duckdb=__import__("duckdb").__version__,
            java=self.spark.sparkContext._jvm.System.getProperty("java.version"),
            default_parallelism=self.spark.sparkContext.defaultParallelism,
            **wl.info,
        )
        print("env " + json.dumps(env), flush=True)
        stop_spark(self.spark)
        self.spark = None

        if self.trace:
            metrics = self.layer_metrics(session_start_s, builds, passes)
        else:
            metrics = self.end_to_end(setup_s, passes, sampler.peak_mb)
            self.report += [
                ("peak_rss_jvm_mb", sampler.peak_parts[0], "MB"),
                ("peak_rss_workers_mb", sampler.peak_parts[1], "MB"),
            ]
        return metrics

    # -- metrics -----------------------------------------------------------

    def end_to_end(self, setup_s: float, passes: list[dict], peak_mb: float) -> dict:
        walls = [p["wall"] for p in passes if p["complete"]] or [p["wall"] for p in passes]
        op_s = [c + e for p in passes for _, c, e in p["ops"]]
        if not op_s:
            raise RuntimeError("no op completed in the timed passes")
        self.report += [
            ("op_samples", len(op_s), "count"),
            ("op_beyond_p90", stats.beyond(op_s, 0.9), "count"),
            ("passes", len(passes), "count"),
        ]
        return {
            "setup_s": setup_s,
            "pass_s": stats.median(walls),
            "op_p50_s": stats.percentile(op_s, 0.5),
            "op_p90_s": stats.percentile(op_s, 0.9),
            "peak_rss_mb": peak_mb,
        }

    def layer_metrics(self, session_start_s: float, builds: dict, passes: list[dict]) -> dict:
        tr = self.tracer
        logs = os.listdir(os.path.join(self.run_dir, "eventlog"))
        with open(os.path.join(self.run_dir, "eventlog", logs[0])) as f:
            jobs, stages = stats.parse_event_log(f)
        traced_nos = {i for i, p in enumerate(passes) if p["traced"]}
        n_tr = max(1, len(traced_nos))
        pass_spans = [s for s in tr.named("pass") if s.attrs["pass_no"] in traced_nos]
        pass_ids = {s.span_id for s in pass_spans}
        op_spans = [s for s in tr.named("op") if s.parent in pass_ids]
        op_ids = {s.span_id for s in op_spans}
        kids: dict[int, list[stats.Span]] = {}
        for s in tr.spans:
            kids.setdefault(s.parent, []).append(s)

        def phase(name: str) -> list[stats.Span]:
            return [s for s in tr.named(name) if s.parent in op_ids]

        def descend(spans, name):
            out, todo = [], list(spans)
            while todo:
                for c in kids.get(todo.pop().span_id, []):
                    todo.append(c)
                    if c.name == name:
                        out.append(c)
            return out

        def win(spans):
            return [(s.start, s.end) for s in spans]

        def group_jobs(suffix: str, spans) -> list[int]:
            # job group when the job carried one, else the time window
            # (jobs from driver threads the engine starts carry none)
            ids = {j.job_id for j in jobs.values()
                   if j.group and j.group.endswith(suffix)}
            windows = win(spans)
            ids |= {j for j in stats.jobs_in(jobs, windows) if not jobs[j].group}
            in_passes = set(stats.jobs_in(jobs, win(pass_spans)))
            return sorted(ids & in_passes)

        construct, execute = phase("plans.construct"), phase("exec.execute")
        loads = descend(construct, "sources.load")
        construct_s = sum(s.duration for s in construct)
        execute_s = sum(s.duration for s in execute)
        construct_self = sum(stats.self_time(s, kids.get(s.span_id, [])) for s in construct)
        ex = stats.fold(jobs, stages, group_jobs(":execute", execute))
        cons_jobs = group_jobs(":construct", construct)
        skews = []
        for s in execute:
            ids = stats.jobs_in(jobs, [(s.start, s.end)])
            if ids:
                skews.append(stats.fold(jobs, stages, ids).task_skew)

        lookups = [r for in_pass, r in self.probes.index_lookups if in_pass]
        index_spans = tr.named("operators.index")
        built = [s for s in index_spans if s.attrs.get("built")]

        def per_op(layer: str) -> list[stats.Span]:
            return [s for s in op_spans if s.attrs["layer"] == layer]

        def mean_dur(spans) -> float:
            return sum(s.duration for s in spans) / len(spans) if spans else 0.0

        def per_call_mb(spans, attr: str) -> float:
            if not spans:
                return 0.0
            t = stats.fold(jobs, stages, stats.jobs_in(jobs, win(spans)))
            return getattr(t, attr) / len(spans)

        traced = [p["wall"] for p in passes if p["traced"]]
        plain = [p["wall"] for p in passes if not p["traced"]]
        m = {
            "session.start_s": session_start_s,
            "sources.load_s": sum(s.duration for s in loads) / n_tr,
            "sources.load_jobs": len(stats.jobs_in(jobs, win(loads))) / n_tr,
            "plans.construct_s": construct_s / n_tr,
            "plans.construct_self_s": construct_self / n_tr,
            "plans.construct_jobs": len(cons_jobs) / n_tr,
            "plans.construct_share": construct_s / max(1e-9, construct_s + execute_s),
            "plans.cached_rdds_after": max((n for n, _ in self.after_op), default=0),
            "plans.storage_mb_after": max((mb for _, mb in self.after_op), default=0.0),
            "exec.execute_s": execute_s / n_tr,
            "exec.jobs": ex.jobs / n_tr,
            "exec.stages": ex.stages / n_tr,
            "exec.tasks": ex.tasks / n_tr,
            "exec.input_mb": ex.input_mb / n_tr,
            "exec.shuffle_write_mb": ex.shuffle_write_mb / n_tr,
            "exec.shuffle_read_mb": ex.shuffle_read_mb / n_tr,
            "exec.spill_mb": ex.spill_mb / n_tr,
            "exec.gc_s": ex.gc_s / n_tr,
            "exec.core_busy_frac": ex.task_s / max(1e-9, execute_s * self.cpus),
            "exec.task_skew": stats.median(skews) if skews else 1.0,
            "exec.python_mb": ex.python_mb / n_tr,
            "operators.bucket_build_s": builds.get("operators.bucket_build_s", 0.0),
            "operators.index_build_s": sum(s.duration for s in built),
            "operators.index_builds": len(built),
            "operators.index_reuse_frac": sum(lookups) / len(lookups) if lookups else 0.0,
            "operators.text.wordcount_s": mean_dur(per_op("text.wordcount")),
            "operators.text.inverted_index_s": mean_dur(per_op("text.inverted_index")),
            "operators.mapreduce.wordcount_s": mean_dur(per_op("mapreduce.wordcount")),
            "operators.mapreduce.inverted_index_s": mean_dur(
                per_op("mapreduce.inverted_index")
            ),
            "operators.kvstore.upsert_s": mean_dur(per_op("kvstore.upsert")),
            "operators.kvstore.upsert_mb": per_call_mb(per_op("kvstore.upsert"), "output_mb"),
            "operators.kvstore.get_s": mean_dur(per_op("kvstore.get")),
            "operators.kvstore.get_input_mb": per_call_mb(per_op("kvstore.get"), "input_mb"),
            "trace.overhead_s": stats.median(traced) - stats.median(plain),
        }
        self.report += [
            ("index_lookups", len(lookups), "count"),
            ("exec.shuffle_wait_s", ex.shuffle_wait_s / n_tr, "s"),
        ]
        # per op (the lookups as one op): mean construct and execute
        # time per execution, and the op's wall time they account for
        for key in {op_key(s.attrs["op"]) for s in op_spans}:
            mine = [s for s in op_spans if op_key(s.attrs["op"]) == key]
            phases = {"plans.construct": 0.0, "exec.execute": 0.0}
            for s in mine:
                for k in kids.get(s.span_id, []):
                    if k.name in phases:
                        phases[k.name] += k.duration
            n = len(mine)
            m[f"op.{key}.construct_s"] = phases["plans.construct"] / n
            m[f"op.{key}.execute_s"] = phases["exec.execute"] / n
            self.report.append(
                (f"op.{key}.wall_s", sum(s.duration for s in mine) / n, "s")
            )
        for name in PER_LAYER:
            m.setdefault(name, 0.0)
        if self.args.spans:
            tr.write(self.args.spans)
        return m


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM
    and its Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    kids = descendants(os.getpid())
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - fall through to kill
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--spans", help="traced run: write the spans here as JSON lines")
    return p.parse_args(argv)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still removes its directory and stops the JVM
    signal.signal(signal.SIGTERM, _terminate)
    base = os.path.join(ROOT, ".perfbench-run")
    run_dir = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    run = Run(args, run_dir)
    try:
        metrics = run.execute()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)
    units = PER_LAYER if args.trace else END_TO_END
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics do not match the declared set: {sorted(set(metrics) ^ set(units))}")
    for name, value in metrics.items():
        print(f"metric {name} {value:.6g} {units[name]}")
    for name, value, unit in run.report:
        print(f"report {name} {value:.6g} {unit}")
    failed = len(run.failures)
    print(f"report failed_frac {failed / max(1, run.attempted):.6g} ratio")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": run.attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                },
            }
        )
    )
    return 0


def op_key(name: str) -> str:
    """The metric key of an op: the lookups share one."""
    return re.sub(r"_\d+$", "", name)


if __name__ == "__main__":
    sys.exit(main())
