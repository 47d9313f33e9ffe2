"""crawlee_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 6 --trace 0

Run from the root of a checkout: the program is imported from the working
directory, and every file the run writes stays under ``.perfbench_work/``
there (removed at exit). Spark runs in this process on
``local[<cpus available>]``. See README.md in this directory.

``--trace 0`` prints the end-to-end metrics of an untraced run. ``--trace 1``
turns the Spark event log on and alternates untraced and traced cycles (spans
and nested job groups); it prints the per-layer metrics of the traced cycles
and the overhead of tracing (traced vs untraced cycle time; the event log is
on for both).

Lines starting with ``#`` report the output checks and phase timings. The
last line of standard output is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def _prepare_env(root: str, work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``; drop environment knobs that would change the program's
    defaults between runs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM spark-submit starts before the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


def _session(work: str, event_dir: str | None):
    from crawlee_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    conf = {
        # 2g holds both workloads (peak RSS ~2.7 GB with the Python workers);
        # the session default of 8g is sized for much larger inputs
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": (
            f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants(pid: int) -> list[int]:
    kids, out, todo = _proc_children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _hwm_mb(pids: list[int]) -> float:
    """Sum of the per-process resident high-water marks (VmHWM)."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _stop_jvm() -> None:
    """Stop the JVM and wait until it and its Python workers have ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    tree = _descendants(proc.pid)
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree):
        time.sleep(0.2)


def measure(cls, spark, seed: int, seconds: float, tracer, traced: bool, work: str) -> dict:
    """Set up ``setup_reps`` times (``setup_s`` is the median), warming up
    on the first state (so the
    first set-up pays the JVM's and the Python workers' start-up and the
    median does not), run timed cycles on the last state until ``seconds``
    have passed (whole cycles, at least the workload's ``min_cycles``),
    check the outputs.

    With ``traced`` every second cycle runs traced (spans, job groups and
    the runtime wrappers), the others untraced, so the two halves give the
    tracing overhead; ``finish`` runs traced."""
    wl = cls(spark, seed, tracer)
    setups = []
    for rep in range(wl.setup_reps):
        t = time.perf_counter()
        wl.setup(os.path.join(work, f"{wl.name}-setup{rep}"))
        setups.append(time.perf_counter() - t)
        if rep == 0:
            t = time.perf_counter()
            wl.warm()
            warm_s = time.perf_counter() - t
    wl.ready()
    jvm = _jvm_pid()
    items, failed_ops, rss = 0, 0, 0.0
    cycle_s: list[list[float]] = [[], []]  # [untraced, traced]
    roots: list[int] = []
    traced_cycles: list[int] = []
    t0 = time.perf_counter()
    n = 0
    while (time.perf_counter() - t0 < seconds or n < wl.min_cycles) and failed_ops == 0:
        on = traced and n % 2 == 1
        if on:
            tracer.install()
        t = time.perf_counter()
        try:
            with tracer.span("bench.cycle") as sp:
                items += wl.cycle()
        except Exception:
            traceback.print_exc()
            failed_ops += 1
        finally:
            if on:
                tracer.uninstall()
                roots.append(sp.id)
                traced_cycles.append(n)
        cycle_s[on].append(time.perf_counter() - t)
        n += 1
        rss = max(rss, _hwm_mb(_descendants(jvm)))
    tracer.install()
    try:
        with tracer.span("bench.finish") as sp:
            wl.finish()
    finally:
        tracer.uninstall()
    wall = time.perf_counter() - t0
    if traced:
        roots.append(sp.id)
    rss = max(rss, _hwm_mb(_descendants(jvm)))
    t = time.perf_counter()
    try:
        checks = wl.check()
    except Exception:
        traceback.print_exc()
        checks = [("checks ran", False, "raised")]
    for name, ok, detail in checks:
        print(f"# {wl.name} check {'ok  ' if ok else 'FAIL'} {name}: {detail}", flush=True)
    print(
        f"# {wl.name} phases: setup {' '.join(f'{x:.2f}' for x in setups)} s, warm {warm_s:.2f} s, "
        f"timed {wall:.2f} s ({len(wl.op_s)} ops: {' '.join(f'{x:.2f}' for x in wl.op_s)}), "
        f"checks {time.perf_counter() - t:.2f} s",
        flush=True,
    )
    attempted = len(wl.op_s) + failed_ops + len(checks)
    failed = failed_ops + sum(1 for _, ok, _ in checks if not ok)
    return {
        "wl": wl,
        "roots": roots,
        "traced_cycles": traced_cycles,
        "cycle_s": cycle_s,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "setup_s": statistics.median(setups),
            "op_s_p50": statistics.median(wl.op_s) if wl.op_s else 0.0,
            "items_per_s": wl.rate(items, wall) if wl.op_s else 0.0,
            "peak_rss_mb": rss,
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    try:
        import crawlee_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {root}: {e}", file=sys.stderr)
        return 2

    import workloads
    from tracing import NullTracer, Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cls = workloads.WORKLOADS[args.workload]
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(root, work)

    t0 = time.perf_counter()
    try:
        event_dir = os.path.join(work, "eventlog") if args.trace else None
        spark = _session(work, event_dir)
        print(f"# session start {time.perf_counter() - t0:.2f} s", flush=True)
        tracer = Tracer(spark, f"{args.workload}-{args.seed}") if args.trace else NullTracer()
        res = measure(cls, spark, args.seed, args.seconds, tracer, bool(args.trace), os.path.join(work, "run"))
        if args.trace:
            import eventlog
            import layers

            facts = res["wl"].facts(res["traced_cycles"])
            spark.stop()  # flushes the event log
            log = eventlog.parse(eventlog.find_log(event_dir))
            plain_s, traced_s = res["cycle_s"]
            k = min(len(plain_s), len(traced_s))
            facts.update(
                wall_s=sum(traced_s[:k]),
                untraced_wall_s=sum(plain_s[:k]),
                failed_share=res["failed"] / res["attempted"],
            )
            values = layers.per_layer(tracer.spans, log, res["roots"], facts)
            metrics = {k: {"value": v, "unit": layers.METRICS[k]} for k, v in values.items()}
        else:
            metrics = {k: {"value": res["metrics"][k], "unit": u} for k, u in END_TO_END.items()}
        spark.stop()
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(f"# total {time.perf_counter() - t0:.2f} s", flush=True)
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
