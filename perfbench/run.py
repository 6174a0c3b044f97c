"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload frontier --seed 1 --seconds 10 --trace 0

One closed loop: one driver process at local[N] (N = min(4, cores)),
one Spark job in flight at a time. Set-up (session start plus a warm-up
run of the workload's path) is done SETUPS times, the first from process
start; setup_s is the median. Inputs are then made from --seed, outside
every timing, and the workload repeats until its iterations have taken
--seconds (at least once). Every iteration's output is checked, outside
the timing.

The last line of stdout is one JSON object: correct, attempted, failed
and metrics. With --trace 0 the metrics are the end-to-end metrics;
with --trace 1 the run first measures untraced, then repeats with the
event log and spans on, and prints the per-layer metrics, including
the tracing overhead. Lines before it are diagnostics.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 2
MAX_CPUS = 4


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def new_session(cpus: int, run_dir: str, traced: bool):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master("local[%d]" % cpus)
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # a fixed, pre-touched heap: GC timing does not move peak RSS,
        # which then follows the Python workers and off-heap memory
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions",
                "-Xms1g -XX:+AlwaysPreTouch")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.local.dir", os.path.join(run_dir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.eventLog.enabled", str(traced).lower())
        .config("spark.eventLog.dir", os.path.join(run_dir, "eventlog"))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.python.daemon.module",
                "perfbench.worker_daemon" if traced else "pyspark.daemon")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants() -> list:
    """Pids of this process's live descendants, read from /proc."""
    children: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % pid) as f:
                stat = f.read()
        except OSError:
            continue
        state, ppid = stat.rsplit(")", 1)[1].split()[:2]
        if state != "Z":
            children.setdefault(int(ppid), []).append(int(pid))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    try:
        with open("/proc/%d/stat" % pid) as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process, so it can
    wait for them: the Python daemon outlives the JVM that forked it by
    a moment."""
    import ctypes

    try:
        ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def stop_everything(spark, timeout: float = 30) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes), and wait
    until every process this one started has ended; what is still alive
    after `timeout` seconds is killed."""
    import subprocess

    from pyspark import SparkContext

    pids = set(descendants())
    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + timeout
        while True:
            reap()
            pids = {p for p in pids | set(descendants()) if alive(p)}
            if not pids:
                break
            if time.time() > deadline:
                for p in pids:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
            time.sleep(0.05)


class RssSampler:
    """Peak summed RSS (bytes) of this process's descendants: the driver
    JVM, the Python daemon and its workers. The process tree is re-read
    every `rescan` samples; reading it costs far more than a sample."""

    def __init__(self, interval: float = 0.1, rescan: int = 10):
        self.interval = interval
        self.rescan = rescan
        self.peak = 0
        self._pids: list = []
        self._n = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        if self._n % self.rescan == 0:
            self._pids = descendants()
        self._n += 1
        total = 0
        for pid in self._pids:
            try:
                with open("/proc/%d/statm" % pid) as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        self.peak = max(self.peak, total)

    def _run(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()
        return False


def cpu_times():
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def timed_loop(spark, wl, seconds: float, tracer=None) -> dict:
    """Iterate until `seconds` of iterations have passed; median
    throughput. The output checks between iterations are not timed."""
    iters = []
    steal0, total0 = cpu_times()
    with RssSampler() as rss:
        while not iters or sum(r["t1"] - r["t0"] for r in iters) < seconds:
            i = len(iters)
            spark.sparkContext.setJobGroup(
                "perfbench-%s-iter-%d" % (wl.name, i), "iteration %d" % i
            )
            t0 = time.time()
            if tracer is not None:
                with tracer.span("iteration", index=i):
                    r = wl.iterate(spark, i)
            else:
                r = wl.iterate(spark, i)
            r["t0"], r["t1"] = t0, time.time()
            wl.check(r)
            iters.append(r)
    steal1, total1 = cpu_times()
    return {
        "iterations": iters,
        "items_per_s": statistics.median(
            r["items"] / (r["t1"] - r["t0"]) for r in iters
        ),
        "peak_rss_mb": rss.peak / 2 ** 20,
        "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
    }


def check_iterations(iters: list) -> list:
    problems = [p for r in iters for p in r["problems"]]
    keys = {r["key"] for r in iters}
    if len(keys) > 1:
        problems.append("iterations disagree on their outputs: %s"
                        % sorted(keys))
    return problems


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "minicrawler_spark", "__init__.py")):
        print("perfbench: no minicrawler_spark package in %s" % ROOT,
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)

    from perfbench import layers
    from perfbench.workloads import WORKLOADS

    cpus = max(1, min(MAX_CPUS, os.cpu_count() or 1))
    os.makedirs(os.path.join(HERE, ".run"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="%s-%d-" % (args.workload, args.seed),
                               dir=os.path.join(HERE, ".run"))
    trace_dir = os.path.join(run_dir, "trace")
    os.makedirs(trace_dir)
    os.makedirs(os.path.join(run_dir, "eventlog"))
    # the JVM and the Python workers inherit these at launch
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PERFBENCH_TRACE_DIR"] = trace_dir

    wl = WORKLOADS[args.workload](args.seed, run_dir, cpus)
    spark = None
    become_subreaper()
    # a TERM still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        setups = []
        for k in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = PROCESS_START if k == 0 else time.time()
            spark = new_session(cpus, run_dir, traced=False)
            wl.warm(spark)
            setups.append(time.time() - t0)
        wl.prepare(spark)
        plain = timed_loop(spark, wl, args.seconds)
        problems = check_iterations(plain["iterations"])
        iters = plain["iterations"]
        e2e = {
            "items_per_s": plain["items_per_s"],
            "setup_s": statistics.median(setups),
            "peak_rss_mb": plain["peak_rss_mb"],
        }
        diag = {
            "workload": wl.name, "seed": args.seed, "cpus": cpus,
            "iterations": len(iters),
            "iteration_s": [round(r["t1"] - r["t0"], 3) for r in iters],
            "setups_s": [round(s, 3) for s in setups],
            "steal_share": round(plain["steal_share"], 4),
        }
        if args.trace:
            from perfbench import tracing

            spark.stop()
            t0 = time.time()
            spark = new_session(cpus, run_dir, traced=True)
            tracer = tracing.Tracer()
            tracing.install_driver_spans(tracer, type(spark.range(1)))
            try:
                wl.warm(spark)
                traced_setup = time.time() - t0
                wl.prepare(spark)
                traced = timed_loop(spark, wl, args.seconds, tracer)
            finally:
                tracer.restore()
            problems += check_iterations(traced["iterations"])
            if traced["iterations"][0]["key"] != iters[0]["key"]:
                problems.append("traced and untraced outputs differ")
            spark.stop()
            spark = None
            metrics = layers.per_layer(tracer, traced["iterations"], run_dir)
            # the traced set-up is a session restart, so it is compared
            # with the untraced restarts, not with the cold first set-up
            metrics.update(layers.overhead(
                dict(e2e, setup_s=statistics.median(setups[1:])),
                {"items_per_s": traced["items_per_s"],
                 "setup_s": traced_setup,
                 "peak_rss_mb": traced["peak_rss_mb"]},
            ))
            diag["traced_iteration_s"] = [
                round(r["t1"] - r["t0"], 3) for r in traced["iterations"]
            ]
            diag["trace_report"] = os.path.join(
                HERE, ".run", "trace-%s-%d.json" % (wl.name, args.seed))
            layers.write_report(diag["trace_report"], tracer, run_dir,
                                metrics)
            print(layers.table(wl.name, metrics))
        else:
            metrics = e2e
        attempted = sum(r["items"] for r in iters)
        failed = sum(r["failed"] for r in iters)
    finally:
        stop_everything(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    diag["problems"] = problems
    print(json.dumps(diag))
    for p in problems:
        print("check failed: %s" % p, file=sys.stderr)
    units = layers.units()
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": value, "unit": units[name]}
            for name, value in metrics.items()
        },
    }))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
