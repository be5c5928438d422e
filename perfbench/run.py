#!/usr/bin/env python3
"""The repo's benchmark: one workload per process, on every CPU of the host.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are made from ``--seed`` under
``.perfbench_work/`` and removed on exit. The process sets itself up (Spark
session at ``local[nproc / 2]`` with a fixed-size driver heap, then untimed
warm-up runs) and repeats the workload until ``--seconds`` of timed runs
have passed, checking every run's output outside the timed region.

``--trace 1`` makes one untimed-window run, then re-runs the workload once
in a fresh session with Spark's event log on, times the layer spans of
``perfbench/workloads.py`` and prints the per-layer metrics of
``perfbench/layers.py`` instead of the end-to-end ones.

The last stdout line is the result JSON; the line before it holds the host
record, the per-run samples and, when traced, per-span detail.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import logging  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT]

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "docs_per_s": "1/s",
    "bytes_written_per_input_byte": "ratio",
}


class SetupRefused(RuntimeError):
    pass


# ---------------------------------------------------------------------------
# host
def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise SetupRefused("no MemTotal in /proc/meminfo")


def requested_setup(cpus: int | None = None) -> dict:
    """Half the CPUs this process may run on, and a driver heap of fixed
    size (-Xms = -Xmx) that fits the host's memory (a quarter of it, at
    most 2g).

    On a 4-CPU shared host, ``local[2]`` ran the extract job faster than
    ``local[4]`` (3.1 s against 4.3 s a run) and a competing CPU-bound
    process did not slow it (``local[4]``: by 7%); ``local[4]`` leaves no
    CPU for the driver, the JVM's own threads or other tenants. A heap
    that starts small grows differently in each process: with the default
    initial heap the same run took 4.0 s in one process and 6.5 s in
    another."""
    gib = mem_total_bytes() // 2**30
    return {
        "cpus": cpus or max(1, len(os.sched_getaffinity(0)) // 2),
        "driver_mem": f"{max(1, min(2, gib // 4))}g",
    }


def host_record(spark, req: dict) -> dict:
    """What the session really runs with; raises SetupRefused unless it
    is what ``req`` asked for."""
    import duckdb
    import pyarrow
    import pyspark

    sc = spark.sparkContext
    jvm_args = list(sc._jvm.java.lang.management.ManagementFactory
                    .getRuntimeMXBean().getInputArguments())
    rec = {
        "nproc": os.cpu_count(),
        "sched_getaffinity": sorted(os.sched_getaffinity(0)),
        "mem_total_bytes": mem_total_bytes(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "initial_heap": next((a[4:] for a in jvm_args if a.startswith("-Xms")), None),
    }
    want = {
        "master": f"local[{req['cpus']}]",
        "default_parallelism": req["cpus"],
        "shuffle_partitions": str(req["cpus"]),
        "driver_memory": req["driver_mem"],
        "initial_heap": req["driver_mem"],
    }
    if any(rec[k] != v for k, v in want.items()):
        raise SetupRefused(f"requested {want}, session has {rec}")
    return rec


def session(req: dict, work: str, extra: dict | None = None):
    from pdfplucker_spark.session import get_spark

    return get_spark(
        app="perfbench",
        master=f"local[{req['cpus']}]",
        shuffle_partitions=req["cpus"],
        arrow_batch_rows=4096,
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms{req['driver_mem']} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            **(extra or {}),
        },
    )


class RssSampler(threading.Thread):
    """High-water RSS of this process's descendants (JVM, Python workers)."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period, self.peak, self._done = period, 0, threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    st = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            children.setdefault(int(st[1]), []).append(int(pid))
            rss[int(pid)] = int(st[21]) * self.page
        total, todo = 0, list(children.get(os.getpid(), []))
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            todo += children.get(p, [])
        return total

    def run(self):
        while not self._done.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._done.wait(self.period)

    def stop(self) -> int:
        self._done.set()
        self.join()
        return self.peak


class GuardDrops(logging.Handler):
    """Sums the keys the guards module's WARN records report as dropped."""

    def __init__(self):
        super().__init__(logging.WARNING)
        self.dropped = 0

    def emit(self, record):
        m = re.search(r"dropped (\d+)", record.getMessage())
        if m:
            self.dropped += int(m.group(1))


def cpu_times() -> dict:
    """The host's CPU seconds so far, summed over its CPUs: ``busy`` (user,
    nice, system, irq, softirq) and ``steal``, the time the hypervisor
    ran someone else on them."""
    with open("/proc/stat") as f:
        t = [int(x) / os.sysconf("SC_CLK_TCK") for x in f.readline().split()[1:9]]
    return {"busy": t[0] + t[1] + t[2] + t[5] + t[6], "steal": t[7]}


def unstolen(wall: float, c0: dict, c1: dict) -> float:
    """``wall`` less the hypervisor's steal between the CPU snapshots
    ``c0`` and ``c1``: the share of the CPU time the process asked for
    (busy + stolen) that it got. A vCPU accrues steal only while it has
    work to run, so on an idle host this is the wall time itself. On the
    shared 4-CPU host the steal of one extract run ranged from 0.5 to 6.6
    CPU-seconds, and took its wall time from 3.7 to 6.4 s."""
    busy, steal = c1["busy"] - c0["busy"], c1["steal"] - c0["steal"]
    return wall * busy / (busy + steal) if busy + steal > 0 else wall


# ---------------------------------------------------------------------------
def tail_percentile(samples: list[float]) -> dict | None:
    """The highest whole percentile with at least ten samples above it."""
    n = len(samples)
    if n < 11:
        return None
    pct = int(100 * (n - 10) / n)
    return {"pct": pct, "value": statistics.quantiles(samples, n=100)[pct - 1], "samples": n}


def timed_runs(wl, spark, seconds: float, work: str, status: dict) -> list[dict]:
    """Run the workload at least once, then again until ``seconds`` of
    timed runs have passed. Failed runs are counted, not timed."""
    from perfbench.workloads import parquet_bytes

    runs, spent, first = [], 0.0, True
    while first or spent < seconds:
        first = False
        out = os.path.join(work, "out", f"run{status['attempted']}")
        status["attempted"] += 1
        t0, c0 = time.perf_counter(), cpu_times()
        try:
            steps = wl.run(spark, out)
            last = time.perf_counter() - t0
            c1 = cpu_times()
            bytes_out = parquet_bytes(out)[0]
            wl.verify(spark, out)
            runs.append({"run_s": unstolen(last, c0, c1), "wall_s": last, "steps": steps,
                         "steal_s": c1["steal"] - c0["steal"], "bytes_out": bytes_out,
                         "wave_s": getattr(wl, "wave_s", None)})
        except Exception as e:
            last = time.perf_counter() - t0
            status["failed"] += 1
            status["errors"].append(f"{type(e).__name__}: {e}"[:300])
            spark.catalog.clearCache()
        finally:
            shutil.rmtree(out, ignore_errors=True)
        spent += last
    return runs


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in (it exits when its stdin
    closes), and wait until the JVM has ended."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
            # Py4J proxies still alive at interpreter exit would log the
            # closed connection on the root logger
            logging.getLogger().setLevel(logging.CRITICAL)


def single_cpu_baseline(corpus: str, work: str) -> dict:
    """The noop-sinked extract kernel at local[1], in a subprocess pinned
    to CPU 0."""
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--single-cpu", corpus,
         "--workload", "extract_job", "--seed", "0", "--seconds", "0"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        cwd=work, start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=120)
        return json.loads(out.strip().splitlines()[-1])
    except Exception as e:
        return {"ok": False, "error": f"{type(e).__name__}: {e}"}
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except (ProcessLookupError, PermissionError):
            pass
        proc.wait()


def single_cpu_main(corpus: str) -> int:
    os.sched_setaffinity(0, {0})
    if os.sched_getaffinity(0) != {0}:
        print(json.dumps({"ok": False, "affinity": sorted(os.sched_getaffinity(0))}))
        return 0
    from perfbench.workloads import noop, timed
    from pdfplucker_spark.operators.extract import extract_spans

    req = requested_setup(cpus=1)
    os.environ.update({"SPARK_GRAFT_CPUS": "1", "SPARK_DRIVER_MEM": req["driver_mem"]})
    spark = session(req, os.path.join(os.getcwd(), "cpu1"))
    try:
        host_record(spark, req)
        first = sorted(os.listdir(corpus))[0]
        noop(extract_spans(spark.read.parquet(os.path.join(corpus, first))))
        kernel_s = timed(lambda: noop(extract_spans(spark.read.parquet(corpus))))
        print(json.dumps({"ok": os.sched_getaffinity(0) == {0}, "kernel_s": kernel_s}))
    finally:
        stop_jvm(spark)
    return 0


def traced_run(wl, restart, req: dict, work: str, untraced_run_s: float,
               status: dict, guard: GuardDrops) -> tuple[dict, dict]:
    """Re-run the workload once in a fresh session with the event log on,
    then its layer spans; returns (per-layer metrics, detail)."""
    from pdfplucker_spark.operators.pipeline import connected_components
    from perfbench import eventlog, layers
    from perfbench.workloads import parquet_bytes

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    spark = restart({**eventlog.EVENTLOG_CONF, "spark.eventLog.dir": f"file://{log_dir}"})
    span = eventlog.Tracer(spark.sparkContext)
    span("warm", lambda: wl.warm(spark))
    out = os.path.join(work, "out", "traced")
    status["attempted"] += 1
    steps = wl.run(spark, out, step=lambda n, fn: span(f"run.{n}", fn))
    ctx = {"untraced_run_s": untraced_run_s, "input_bytes": wl.input_bytes}
    ctx["output_bytes"], ctx["output_files"] = parquet_bytes(out)
    if wl.name == "incremental":
        ctx["wave_s"] = wl.wave_s
        ctx["wave_rows"] = statistics.mean(p["numInputRows"] for p in wl.progress)
        ctx["index_bytes"] = parquet_bytes(os.path.join(out, "sink_index"))[0]
    for name, fn in wl.layer_spans(spark):
        span(name, fn)
        spark.catalog.clearCache()
    ctx["cc_rounds"] = getattr(connected_components, "last_rounds", 0)
    try:
        span("verify", lambda: wl.verify(spark, out))
    except Exception as e:
        status["failed"] += 1
        status["errors"].append(f"traced: {type(e).__name__}: {e}"[:300])
    spark.stop()

    spans = eventlog.read_spans(log_dir)
    ctx["guard_drops"] = guard.dropped
    if wl.name == "extract_job":
        ctx["single_cpu"] = single_cpu_baseline(wl.corpus, work)
        if ctx["single_cpu"].get("ok"):
            ctx["scaling_eff_1toN"] = ctx["single_cpu"]["kernel_s"] / (
                req["cpus"] * span.wall["extract.kernel"])
    metrics = layers.derive(wl.name, spans, span.wall, ctx, req["cpus"])
    detail = {
        "traced_steps": steps,
        "span_wall_s": span.wall,
        "untagged_jobs": len(spans[eventlog.UNTAGGED].jobs) if eventlog.UNTAGGED in spans else 0,
        "spans": {n: layers.span_engine([s], span.wall.get(n, 0.0), req["cpus"])
                  for n, s in spans.items()},
        "moves": {k: v[1] for k, v in layers.LAYER_METRICS.items()},
        "single_cpu": ctx.get("single_cpu"),
    }
    return metrics, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--single-cpu", metavar="CORPUS", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    try:
        import pdfplucker_spark
        from tests import check_driver_strict  # noqa: F401

        if not pdfplucker_spark.__file__.startswith(ROOT + os.sep):
            raise ImportError(f"pdfplucker_spark comes from {pdfplucker_spark.__file__}")
    except ImportError as e:
        print(f"perfbench: the package is not in this checkout: {e}", file=sys.stderr)
        return 3
    if args.single_cpu:
        return single_cpu_main(args.single_cpu)
    from perfbench.layers import LAYER_METRICS
    from perfbench.workloads import WORKLOADS, timed

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanup below
    c_start = cpu_times()
    req = requested_setup()
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(req["cpus"]),
        "SPARK_DRIVER_MEM": req["driver_mem"],
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
    })
    guard = GuardDrops()
    logging.getLogger("pdfplucker_spark.plans.guards").addHandler(guard)
    status = {"attempted": 0, "failed": 0, "errors": []}
    spark = None
    try:
        wl = WORKLOADS[args.workload](work, args.seed)
        excluded = timed(wl.prepare)  # input generation and oracle results
        spark = session(req, work)
        host = host_record(spark, req)
        excluded += timed(lambda: wl.stage(spark))
        for _ in range(wl.warm_runs):
            wl.warm(spark)
        setup_s = unstolen(time.perf_counter() - T_START - excluded, c_start, cpu_times())

        rss = RssSampler()
        rss.start()
        # a traced invocation needs one untraced run to compare against
        runs = timed_runs(wl, spark, 0.0 if args.trace else args.seconds, work, status)
        peak_rss = rss.stop()
        if not runs:
            raise RuntimeError(f"no run succeeded: {status['errors']}")
        run_s = [r["run_s"] for r in runs]
        med = statistics.median(run_s)
        detail = {
            "workload": wl.name, "seed": args.seed, "host": host,
            "excluded_s": excluded, "run_s_samples": run_s,
            "run_s_tail": tail_percentile(run_s),
            "wall_s_samples": [r["wall_s"] for r in runs],
            "steal_s_samples": [r["steal_s"] for r in runs],
            "steps": [r["steps"] for r in runs],
            "docs_per_s": wl.input_rows / med,
            # too unsteady across processes to bound (G1 heap growth)
            "peak_rss_mb": peak_rss / 2**20,
        }
        if wl.name == "incremental":
            detail["wave_s"] = [r["wave_s"] for r in runs]
            detail["last_wave_s"] = statistics.median(r["wave_s"][-1] for r in runs)

        if args.trace:
            def restart(extra):
                nonlocal spark
                spark.stop()
                spark = session(req, work, extra)
                host_record(spark, req)
                return spark

            wall = statistics.median(r["wall_s"] for r in runs)
            metrics, trace_detail = traced_run(wl, restart, req, work, wall, status, guard)
            detail.update(trace_detail)
            units = {k: v[0] for k, v in LAYER_METRICS.items()}
        else:
            metrics = {
                "setup_s": setup_s,
                "run_s": med,
                "docs_per_s": wl.input_rows / med,
                "bytes_written_per_input_byte": statistics.median(
                    r["bytes_out"] for r in runs) / wl.input_bytes,
            }
            units = END_TO_END
        detail["errors"] = status["errors"]
        detail["failed_frac"] = status["failed"] / status["attempted"]
        print(json.dumps(detail, default=str))
        print(json.dumps({
            "correct": status["failed"] == 0,
            "attempted": status["attempted"],
            "failed": status["failed"],
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    except SetupRefused as e:
        print(f"perfbench: setup not honoured, no numbers printed: {e}", file=sys.stderr)
        return 4
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the cleanup finish
        try:
            if spark is not None:
                stop_jvm(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass


if __name__ == "__main__":
    sys.exit(main())
