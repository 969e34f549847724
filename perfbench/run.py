"""Benchmark entry point: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload serve_point --seed 1 --seconds 10 --trace 0

A single client thread drives ``local[nproc]`` and waits for each
operation's result before sending the next. The last line of standard
output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run with ``--trace 1``. The line before it records
the host, versions, seed and input sizes. Spans of a traced run are
written to ``.perfbench_out/`` under the checkout root.

Run from the checkout root (the directory holding ``fuserank_spark``).
All scratch files live in ``.perfbench_work/`` there and are removed on
exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "1g"


def per_layer_spec() -> dict[str, str]:
    """The per-layer metrics a traced run reports, name -> unit, as
    ``BENCHMARK.json`` at the checkout root lists them. A name is
    ``<span>.<field>``, the field one of ``calls``, ``wall_s``,
    ``driver_s``, ``jobs`` and the ``Span.stats`` keys, or a run-level
    ``trace.*`` field."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _hygiene(work: str) -> int:
    """Environment for the JVM and the Python workers, set before
    pyspark is imported: workers import ``fuserank_spark`` from the
    checkout root whatever the launch directory, and every scratch file
    of the JVM and of Python stays inside ``work``."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_SUBMIT_OPTS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p
    )
    sys.path.insert(0, ROOT)
    return nproc


def start_session(work: str, nproc: int):
    """The library's session (``session.get_spark``) on a context whose
    static settings keep files inside ``work`` and memory small."""
    from pyspark.sql import SparkSession

    from fuserank_spark.session import get_spark

    (
        SparkSession.builder.master(f"local[{nproc}]")
        .config("spark.driver.memory", DRIVER_MEM)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark = get_spark()  # applies the library's SQL settings to this session
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ------------------------------------------------------------- processes
def _stat(pid) -> list[str] | None:
    """``[state, ppid, ...]`` from /proc/<pid>/stat, or None once gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"  # a zombie has ended


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        st = _stat(name) if name.isdigit() else None
        if st is not None:
            kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def descendants() -> list[int]:
    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of this process, the JVM and the Python
    workers: the largest sum of per-process high-water marks seen."""

    def __init__(self):
        self.peak_mb = 0.0

    def sample(self) -> None:
        kb = sum(_hwm_kb(p) for p in [os.getpid(), *descendants()])
        self.peak_mb = max(self.peak_mb, kb / 1024.0)


def stop_session(spark) -> None:
    """Stop the context and the JVM, and wait for every process that
    stops with them (the JVM, the Python worker daemon and workers).
    With no session (the run ended while it was starting) the JVM has
    nothing to stop cleanly, so every child process is killed."""
    from pyspark import SparkContext

    pids = descendants()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + (30 if spark is not None else 0)
    while True:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def tree_cpu_s() -> float:
    """CPU seconds this process and its descendants (the JVM, the Python
    workers) have used so far, reaped children included. Time the
    hypervisor stole is not in it."""
    ticks = 0
    for pid in [os.getpid(), *descendants()]:
        st = _stat(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_frac(a: list[int], b: list[int]) -> float:
    """Share of the host's CPU time the hypervisor took from this machine
    between two readings: an operation with a large share ran on a
    loaded host."""
    d = [y - x for x, y in zip(a, b)]
    return round(d[7] / max(1, sum(d)), 4)


# ------------------------------------------------------------------ run
def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def layer_metrics(tracer, overhead: float) -> dict:
    """Every per-layer metric of ``BENCHMARK.json``, per operation that
    ran the span (the serve workloads build their corpus once, in
    set-up, which counts as one operation), and zero for a span this
    workload does not run."""
    totals: dict[str, dict] = {}
    for s in tracer.spans:
        t = totals.setdefault(s.name, {"ops": set(), "calls": 0, "wall_s": 0.0,
                                       "driver_s": 0.0, "jobs": 0})
        wall = s.end - s.start
        t["ops"].add(s.op)
        t["calls"] += s.calls
        t["wall_s"] += wall
        t["driver_s"] += wall - s.stats["stage_span_s"]
        t["jobs"] += len(s.stats["job_ids"])
        for f in ("tasks", "exec_cpu_s", "shuffle_write_mb", "spill_mb",
                  "scan_exec_cpu_s", "merge_exec_cpu_s"):
            t[f] = t.get(f, 0.0) + s.stats[f]
    run_level = {"trace.unattributed_jobs": tracer.unattributed_jobs(),
                 "trace.overhead_frac": overhead}
    out = {}
    for name, unit in per_layer_spec().items():
        if name in run_level:
            value = run_level[name]
        else:
            span, field = name.rsplit(".", 1)
            t = totals.get(span)
            value = t[field] / len(t["ops"]) if t else 0.0
        out[name] = {"value": value, "unit": unit}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test runs tiny inputs)")
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only if no other run uses it


def _run(args, work: str) -> int:
    nproc = _hygiene(work)
    import fuserank_spark  # noqa: F401  fail before a JVM starts if it is missing
    import pyspark

    import workloads
    from tracer import NullTracer, StageTracer

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    wl = workloads.WORKLOADS[args.workload]()
    null = NullTracer()
    rss = PeakRss()
    checks: list[bool] = []  # every checked output: warm-up and timed operations
    spark = None
    try:
        # set-up, timed as one: start the session, generate the inputs,
        # build what the operations read, and run untimed warm-up
        # operations so the timed ones find the JVM's generated code and
        # the Python workers warm. Done once: on a restarted Spark
        # context later operations ran up to 1.8x slower, and a second
        # serve set-up would cost as much as the whole timed loop.
        t0 = time.perf_counter()
        spark = start_session(work, nproc)
        tr = StageTracer(spark, f"{wl.name}.op") if args.trace else null
        ctx = workloads.Ctx(spark, work, args.seed, args.scale)
        with tr.operation(-1):
            checks += wl.setup(ctx, tr)
        warm = []
        for w in range(-2, -2 - wl.warmup_ops, -1):
            t1 = time.perf_counter()
            with tr.operation(w, record=False):
                checks.append(wl.check(wl.op(w, null)))
            warm.append(time.perf_counter() - t1)
        setup_s = time.perf_counter() - t0
        rss.sample()
        if args.trace:
            # the cold-build guard: every corpus materialization ran real tasks
            checks += [s.stats["exec_cpu_s"] > 0 for s in tr.spans
                       if s.name == "flagship.build_corpus.materialize"]

        # a traced run alternates untraced and traced operations, so it
        # holds at least one of each
        min_ops = max(wl.min_ops, 2) if args.trace else wl.min_ops
        times, steal, cpu, traced_t, untraced_t = [], [], [], [], []
        total, ok_items, i = 0.0, 0, 0
        t_end = time.perf_counter() + args.seconds
        while i < min_ops or time.perf_counter() < t_end:
            record = bool(args.trace) and i % 2 == 1
            cpu0, tree0 = _cpu_ticks(), tree_cpu_s()
            t0 = time.perf_counter()
            try:
                with tr.operation(i, record):
                    res = wl.op(i, tr)
                dt = time.perf_counter() - t0
                st, op_cpu = _steal_frac(cpu0, _cpu_ticks()), tree_cpu_s() - tree0
                with tr.span("perfbench.check"):
                    ok = wl.check(res)
            except Exception:
                dt = time.perf_counter() - t0
                st, op_cpu = _steal_frac(cpu0, _cpu_ticks()), tree_cpu_s() - tree0
                traceback.print_exc()
                ok = False
            total += dt
            checks.append(ok)
            if ok:
                times.append(dt)
                steal.append(st)
                cpu.append(round(op_cpu, 3))
                ok_items += wl.items_per_op
                (traced_t if record else untraced_t).append(dt)
            i += 1
            rss.sample()

        info = {
            "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": nproc, "spark": pyspark.__version__,
            "python": platform.python_version(), "sizes": wl.sizes(),
            "setup_s": round(setup_s, 4), "warmup_s": [round(t, 4) for t in warm],
            "op_s": [round(t, 4) for t in times], "op_cpu_s": cpu, "steal_frac": steal,
        }
        if args.trace:
            overhead = _median(traced_t) / _median(untraced_t) - 1.0
            metrics = layer_metrics(tr, overhead)
            _write_spans(tr, args)
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "op_p50_s": {"value": _median(times), "unit": "s"},
                "items_per_s": {"value": ok_items / total, "unit": "1/s"},
                "op_cpu_s": {"value": _median(cpu), "unit": "s"},
                "peak_rss_mb": {"value": rss.peak_mb, "unit": "MB"},
            }
    finally:
        try:
            if spark is not None:
                wl.teardown()
        finally:
            stop_session(spark)
    failed = checks.count(False)
    print(json.dumps({"perfbench": info}))
    print(json.dumps({"correct": failed == 0, "attempted": len(checks), "failed": failed,
                      "metrics": metrics}))
    return 0


def _write_spans(tr, args) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"spans-{args.workload}-seed{args.seed}.jsonl")
    with open(path, "w") as f:
        for s in tr.spans:
            f.write(json.dumps({
                "name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
                "op": s.op, "calls": s.calls,
                **s.stats,
            }) + "\n")


if __name__ == "__main__":
    sys.exit(main())
