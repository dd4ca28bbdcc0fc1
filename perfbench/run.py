"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Each run is a single closed-loop
client: it starts the next operation only after the previous one
returned. A run generates its inputs from ``--seed``, starts its own
Spark session with a fresh temp, Spark-local and warehouse directory
under ``.perfbench_work/`` in the checkout, builds every store, warms
up, measures whole cycles of ops for at least ``--seconds`` and at
least the workload's ``min_cycles``, then checks the outputs untimed. The
last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs one
untimed cycle, then spends the first half of the measured time
untraced and the second half with spans and counters on
(``tracing.py``), and reports the per-layer
metrics plus the tracing overhead between the two halves. Spans are
written to ``.perfbench_work/trace-<workload>-<seed>.json``.

See README.md in this directory for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE = "time_series_data_pipeline_spark"
WORKLOADS = ("dashboard", "ingest")


def _host_mem_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak RSS of this Python process, the JVM, and the JVM's Python
    workers still alive at the end of the run."""
    jvm = spark._jvm.ProcessHandle.current().pid()
    return {
        "python": _vm_hwm_mb(os.getpid()),
        "jvm": _vm_hwm_mb(jvm),
        "python_workers": sum(_vm_hwm_mb(p) for p in _descendants(jvm)),
    }


def _cpu_ticks() -> tuple[int, int, int, int]:
    """(all, busy, steal, this run's own) CPU ticks so far: the host's
    from /proc/stat, this process tree's (the JVM and its Python
    workers included) from /proc/<pid>/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    own = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                own += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, ValueError):
            pass
    idle = fields[3] + fields[4]
    return sum(fields), sum(fields) - idle - fields[7], fields[7], own


def tail_percentile(values: list[float]) -> tuple[str, float, int]:
    """Highest percentile of the ladder with at least ten samples above
    its nearest rank; the maximum when no percentile has ten. The ladder
    stops at p75: the median is reported on its own, and a run whose op
    count crosses 20 must not switch its tail from the maximum to it."""
    s = sorted(values)
    n = len(s)
    for p in (99.9, 99, 95, 90, 75):
        rank = math.ceil(p / 100 * n)
        if n - rank >= 10:
            return f"p{p:g}", s[rank - 1], n - rank
    return "max", s[-1], 0


def _setup_env(work: str, root: str) -> dict:
    nproc = len(os.sched_getaffinity(0))
    # half the CPUs run Spark tasks; the other half is left to the
    # Python driver, the JVM's own threads and the Python workers, so
    # that a run does not queue on its own CPUs (with every CPU busy, a
    # run on a shared host slowed by several times the share of CPU time
    # the host took from it)
    cpus = max(1, nproc // 2)
    mem_gb = _host_mem_gb()
    # an eighth of host memory, 1-2 GB: the package default (24g) does
    # not fit small hosts, and the workloads keep a few hundred MB live.
    # A larger heap only grows by an amount that depends on when the
    # collector runs, which spreads peak_rss_mb from run to run.
    heap_gb = max(1, min(2, int(mem_gb // 8)))
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_gb}g",
        # every JVM (the launcher's too) keeps its temp files inside the
        # work directory and writes no hsperfdata under /tmp
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p
        ),
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "nproc": nproc,
        "spark_cpus": cpus,
        "mem_gb": round(mem_gb, 1),
        "jvm_heap": f"{heap_gb}g",
    }


def _start_session(work: str):
    """The package's own session, with its warehouse under ``work``
    (``SPARK_LOCAL_DIRS``, set by ``_setup_env``, places the local dir)."""
    from time_series_data_pipeline_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of those processes has ended."""
    gateway = spark.sparkContext._gateway
    jvm = gateway.proc.pid
    children = _descendants(jvm)
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=120)
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and any(
        os.path.exists(f"/proc/{p}") for p in children
    ):
        time.sleep(0.1)


def _loop(wl, seconds: float, first_op: int, hooks=None, min_cycles: int = 1):
    """Closed loop: one op at a time until ``seconds`` have passed and
    ``min_cycles`` cycles of the workload's ops are done, then on to the
    end of the cycle, so that every run measures the same mix. Returns
    ([(op index, latency s, error or None)], [wall seconds of each
    cycle])."""
    ops, cycles = [], []
    i = first_op
    t_start = t_cycle = time.perf_counter()
    while (
        time.perf_counter() - t_start < seconds
        or len(cycles) < min_cycles
        or (i - first_op) % wl.cycle
    ):
        if hooks is not None:
            hooks.before(i)
        err = lat = None
        t0 = time.perf_counter()
        try:
            lat = wl.op(i)
        except Exception:  # an op failure is a result, not a crash
            err = traceback.format_exc(limit=3)
        t1 = time.perf_counter()
        if hooks is not None:
            hooks.after(i)
        ops.append((i, t1 - t0 if lat is None else lat, err))
        i += 1
        if (i - first_op) % wl.cycle == 0:
            now = time.perf_counter()
            cycles.append(now - t_cycle)
            t_cycle = now
    return ops, cycles


def _cycle_rates(wl, ops, cycles) -> tuple[float, float]:
    """(ops/s, rows/s) of the loop: the median over its cycles of the
    cycle's ops (rows) ÷ the cycle's wall seconds. A median, so that a
    burst of CPU taken by other tenants of the host moves one cycle, not
    the run's figure."""
    n = wl.cycle
    ops_s = [n / c for c in cycles]
    rows_s = [
        wl.rows_committed(ops[k * n:(k + 1) * n]) / c for k, c in enumerate(cycles)
    ]
    return statistics.median(ops_s), statistics.median(rows_s)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, ENGINE, "__init__.py")):
        print(f"perfbench: no {ENGINE}/ package under {root}", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    info = _setup_env(work, root)

    import importlib

    import pyspark

    wl_cls = getattr(importlib.import_module(args.workload), args.workload.title())
    spark = None
    try:
        t_setup = time.perf_counter()
        spark = _start_session(work)
        session_s = time.perf_counter() - t_setup
        wl = wl_cls(spark, work, args.seed)
        wl.setup()
        setup_s = time.perf_counter() - t_setup
        info.update(
            session_s=round(session_s, 2),
            store_s=round(wl.stores.seconds, 2),
            warm_up_rounds_s=wl.warm_up,
            seed=args.seed,
            workload=args.workload,
            python=platform.python_version(),
            pyspark=pyspark.__version__,
            java=spark._jvm.System.getProperty("java.version"),
        )

        ticks = _cpu_ticks()
        if args.trace:
            import tracing

            # the first cycle after warm-up is still on the warm-up slope;
            # it is left out of both halves, so that they compare alike
            settle, _ = _loop(wl, 0, 0)
            half = args.seconds / 2
            untraced, _ = _loop(wl, half, len(settle))
            hooks = tracing.Hooks(spark, wl)
            traced, _ = _loop(wl, half, len(settle) + len(untraced), hooks)
            ops = settle + untraced + traced
        else:
            ops, cycles = _loop(wl, args.seconds, 0, min_cycles=wl.min_cycles)

        total, busy, steal, own = [b - a for a, b in zip(ticks, _cpu_ticks())]
        # CPU time other tenants took while the loop ran: stolen by the
        # hypervisor, or used by other processes on the same host. A noisy
        # neighbour shows here before it shows in the metrics.
        info.update(
            loop_steal_share=round(steal / max(total, 1), 3),
            loop_others_busy_share=round(max(busy - own, 0) / max(total, 1), 3),
        )
        t_check = time.perf_counter()
        failed_ops = set()
        for i, _lat, err in ops:
            if err:
                print(f"op {i} raised:\n{err}", file=sys.stderr)
                failed_ops.add(i)
        for i, why in wl.check([i for i, _l, e in ops if not e]).items():
            print(f"op {i} failed its output check: {why}", file=sys.stderr)
            failed_ops.add(i)

        info.update(check_s=round(time.perf_counter() - t_check, 2))
        lats = [lat for _i, lat, _e in ops]
        label, tail, beyond = tail_percentile(lats)
        info.update(
            ops=len(ops),
            latencies_s=[round(x, 3) for x in lats],
            latency_tail=label,
            latency_tail_samples_beyond=beyond,
        )
        if args.trace:
            metrics = hooks.metrics(
                untraced_op_s=statistics.fmean(lat for _i, lat, _e in untraced),
                traced_op_s=statistics.fmean(lat for _i, lat, _e in traced),
                session_s=session_s,
                stores=wl.stores,
            )
            hooks.tracer.dump(
                os.path.join(base, f"trace-{args.workload}-{args.seed}.json")
            )
        else:
            rss = peak_rss_mb(spark)
            ops_per_s, rows_per_s = _cycle_rates(wl, ops, cycles)
            info.update(
                peak_rss_split_mb={k: round(v) for k, v in rss.items()},
                cycles_s=[round(c, 3) for c in cycles],
            )
            metrics = {
                "setup_s": (setup_s, "s"),
                "ops_per_s": (ops_per_s, "1/s"),
                "latency_p50_s": (statistics.median(lats), "s"),
                "latency_tail_s": (tail, "s"),
                "ok_ratio": (1 - len(failed_ops) / len(ops), "ratio"),
                "rows_per_s": (rows_per_s, "rows/s"),
                "backfill_rows_per_s": (wl.backfill_rows_per_s(), "rows/s"),
                "peak_rss_mb": (sum(rss.values()), "MB"),
            }
        print("perfbench " + json.dumps(info))
        result = {
            "correct": not failed_ops,
            "attempted": len(ops),
            "failed": len(failed_ops),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
