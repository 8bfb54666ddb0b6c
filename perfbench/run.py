"""Benchmark of kinesis_data_counter_spark: one command, two workloads.

Run from the root of a checkout::

    python3 perfbench/run.py --workload counter_backlog --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off. ``--trace 1``
runs a fixed op schedule untraced and then traced (spans, Spark job/stage/
task counts, CPU per process) and reports the per-layer metrics and the
tracing overhead. The last stdout line is the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The line before it, ``report: {...}``, holds everything else: cpus,
loadavg, versions, input sizes, sample counts, dropped percentiles, the
failure tags and the workload's own layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
KEEP_INPUTS = 16  # cached input sets kept per workload


def _fail(msg: str) -> int:
    print(f"error: {msg}", file=sys.stderr)
    return 2


def _cpus() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "os_cpu_count": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
    }


def _loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def _prepare_env() -> None:
    """Keep every file Spark and its workers write inside the checkout,
    and pin the core count the session uses to what this process may run on."""
    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # no hsperfdata file in /tmp, and the JVM's temp files in the checkout
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf 'spark.driver.extraJavaOptions=-XX:-UsePerfData -Djava.io.tmpdir={tmp}' "
        "pyspark-shell"
    )


def ensure_inputs(workload: str, seed: int) -> str:
    """The generated inputs of (workload, seed), made by the generator in
    its own process and cached on disk."""
    from perfbench.gen import DEFAULT_SIZE

    size = DEFAULT_SIZE[workload]
    data = os.path.join(STATE, "data")
    out = os.path.join(data, f"{workload}-seed{seed}-size{size}")
    if not os.path.isfile(os.path.join(out, "meta.json")):
        os.makedirs(data, exist_ok=True)
        subprocess.run(
            [sys.executable, "-m", "perfbench.gen", "--workload", workload,
             "--seed", str(seed), "--size", str(size), "--out", out],
            cwd=ROOT, check=True, timeout=600,
        )
    cached = sorted(
        (os.path.join(data, d) for d in os.listdir(data)
         if d.startswith(workload + "-seed") and ".tmp" not in d),
        key=os.path.getmtime,
    )
    for old in cached[:-KEEP_INPUTS]:
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    os.utime(out)
    return out


def _summary(ops) -> dict:
    from perfbench.stats import median, tail_percentile

    done = [o for o in ops if not o.raised]
    op_ms = [o.ms for o in done]
    out = {
        "op_ms": [round(o.ms, 1) for o in ops],
        "ops": len(ops),
        "completed": len(done),
        "op_ms_p50": median(op_ms),
        "op_ms_p90": tail_percentile(op_ms, 90),
        # median of per-op rates: robust to the mix of op kinds in a run
        "records_per_s": median([o.records / (o.ms / 1e3) for o in done]),
    }
    if out["op_ms_p90"] is None:
        out["op_ms_p90_dropped"] = (
            f"{len(op_ms)} samples: fewer than 10 lie beyond the 90th percentile")
    return out


def _failures(ops) -> tuple[bool, int, dict]:
    tags: dict[str, int] = {}
    for o in ops:
        if o.failure:
            tag = o.failure if o.failure.startswith("known:") else o.failure[:200]
            tags[tag] = tags.get(tag, 0) + 1
    correct = all(t.startswith("known:") for t in tags)
    return correct, sum(tags.values()), tags


def _jq_eval_us(wl) -> float:
    """Median microseconds per object of the jq evaluator over this
    workload's output objects (5 passes of at least 0.1 s each)."""
    from kinesis_data_counter_spark.jq import eval_jq_object

    from perfbench.stats import median

    program, objs = wl.jq_sample()
    passes = []
    for _ in range(5):
        n, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < 0.1:
            for o in objs:
                eval_jq_object(program, o)
            n += len(objs)
        passes.append((time.perf_counter() - t0) / n * 1e6)
    return median(passes)


def _versions(spark) -> dict:
    import pyarrow

    return {
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
    }


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process it started, and
    wait until each has ended."""
    from pyspark import SparkContext

    from perfbench.engine import proc_table

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    jvm_pid = None
    try:
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    table = proc_table()
    tree, stack = [], [p for p in (jvm_pid, proc.pid if proc else None) if p]
    while stack:
        pid = stack.pop()
        tree.append(pid)
        stack.extend(c for c, (pp, _, _) in table.items() if pp == pid)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.monotonic() + 15
        while True:
            alive = [p for p in tree if os.path.exists(f"/proc/{p}")
                     and not _is_zombie(p)]
            if not alive:
                break
            if time.monotonic() > deadline:
                for p in alive:
                    os.kill(p, signal.SIGKILL)
                deadline = time.monotonic() + 5
            time.sleep(0.05)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode(errors="replace")
    except OSError:
        return True
    return raw[raw.rindex(")") + 2] == "Z"


def run(args) -> tuple[dict, dict]:
    from perfbench.engine import CpuMeter, EngineCounter, Tracer
    from perfbench.stats import median
    from perfbench.workloads import KNOWN_DEFECTS, WORKLOADS

    report: dict = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": _cpus(), "loadavg_before": _loadavg(),
        "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
    }
    inputs = ensure_inputs(args.workload, args.seed)
    work_root = os.path.join(STATE, "work")
    for stale in os.listdir(work_root) if os.path.isdir(work_root) else ():
        if not os.path.exists(f"/proc/{stale}"):  # left by a killed run
            shutil.rmtree(os.path.join(work_root, stale), ignore_errors=True)
    work = os.path.join(work_root, str(os.getpid()))
    os.makedirs(work)
    tracer = Tracer()

    spark = wl = None
    try:
        t_setup = time.perf_counter()
        with tracer.span("session.get_spark") as s_session:
            from kinesis_data_counter_spark.session import get_spark

            spark = get_spark()
            spark.sparkContext.setLogLevel("ERROR")
        wl = WORKLOADS[args.workload](spark, inputs, work)
        report["inputs"] = wl.meta
        with tracer.span("config.load"):
            wl.load_config()
        with tracer.span("warmup") as s_warm:
            warm_ops = wl.warmup()
        setup_s = time.perf_counter() - t_setup
        report["versions"] = _versions(spark)
        layer: dict = {}

        if not args.trace:
            # whole schedules only, so every run has the same mix of op kinds
            ops, t0 = [], time.perf_counter()
            while time.perf_counter() - t0 < args.seconds or len(ops) % wl.schedule:
                ops.append(wl.op(len(ops)))
            summary = _summary(ops)
            if summary["completed"] == 0:
                raise RuntimeError(f"no op completed: {_failures(ops)[2]}")
            metrics = {
                "setup_s": (setup_s, "s"),
                "records_per_s": (summary["records_per_s"], "1/s"),
                "op_ms_p50": (summary["op_ms_p50"], "ms"),
            }
        else:
            counter, cpu = EngineCounter(spark), CpuMeter(spark)
            plain, traced, counts, cpu_s = [], [], [], []
            t0 = time.perf_counter()
            while not traced or time.perf_counter() - t0 < args.seconds:
                # untraced, traced, traced, untraced: ops still speed up as
                # the JVM warms, and this order cancels that in the overhead
                for with_trace in (False, True, True, False):
                    for j in range(wl.schedule):
                        if not with_trace:
                            plain.append(wl.op(j))
                            continue
                        m0, c0 = counter.mark(), cpu.read()
                        with tracer.span(f"{args.workload}.op"):
                            traced.append(wl.op(j))
                        c1, m1 = cpu.read(), counter.mark()
                        counts.append(counter.between(m0, m1))
                        cpu_s.append(CpuMeter.delta(c0, c1))
            ops = plain + traced
            summary = {"untraced": _summary(plain), "traced": _summary(traced)}

            def per_op(rows, key):
                return sum(r[key] for r in rows) / len(rows)

            config_ms = []
            for _ in range(5):
                t = time.perf_counter()
                wl.load_config()
                config_ms.append((time.perf_counter() - t) * 1e3)
            probe_metrics, probe_ops = wl.probes(tracer)
            ops += probe_ops
            layer = {
                "by_kind": {
                    kind: {
                        "ops": len(ix),
                        "ms_p50": median([traced[i].ms for i in ix]),
                        "jobs_per_op": per_op([counts[i] for i in ix], "jobs"),
                    }
                    for kind in sorted({o.kind for o in traced})
                    for ix in [[i for i, o in enumerate(traced) if o.kind == kind]]
                },
                **probe_metrics,
            }
            metrics = {
                "session.get_spark_s": (s_session.end - s_session.start, "s"),
                "warmup.s": (s_warm.end - s_warm.start, "s"),
                "config.load_ms": (median(config_ms), "ms"),
                "spark.jobs_per_op": (per_op(counts, "jobs"), "count"),
                "spark.stages_per_op": (per_op(counts, "stages"), "count"),
                "spark.tasks_per_op": (per_op(counts, "tasks"), "count"),
                "spark.failed_tasks_per_op": (per_op(counts, "failed_tasks"), "count"),
                "cpu.driver_py_s_per_op": (per_op(cpu_s, "driver_py"), "s"),
                "cpu.jvm_s_per_op": (per_op(cpu_s, "jvm"), "s"),
                "cpu.py_worker_s_per_op": (per_op(cpu_s, "py_worker"), "s"),
                "jq.eval_us_per_obj": (_jq_eval_us(wl), "us"),
                "trace.overhead_pct": (
                    100 * (sum(o.ms for o in traced) / sum(o.ms for o in plain) - 1), "%"),
            }
            report["spans"] = tracer.summary()
    finally:
        if wl is not None:
            spark = wl.spark  # a probe may have replaced the session
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    correct, failed, tags = _failures(ops)
    warm_correct, _, warm_tags = _failures(warm_ops)
    correct = correct and warm_correct
    report.update(
        summary=summary, layer=layer, failures=tags, warmup_failures=warm_tags,
        known_defects={k: v for k, v in KNOWN_DEFECTS.items() if f"known:{k}" in tags},
        loadavg_after=_loadavg(),
    )
    result = {
        "correct": correct,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return report, result


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="kinesis_data_counter_spark benchmark")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kinesis_data_counter_spark", "__init__.py")):
        return _fail("kinesis_data_counter_spark/ not found beside perfbench/: "
                     "run from the root of a checkout of the repository")
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    _prepare_env()
    # a terminated run still stops Spark and its processes (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    report, result = run(args)
    print("report: " + json.dumps(report, sort_keys=True, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
