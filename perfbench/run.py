"""Benchmark of the dbscan_pyspark_spark engine.

Run from the root of a source tree:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (perfbench/workloads.py): anon_6d and near_dup_search. Each
is a closed loop: one client in this process drives a
local[$SPARK_GRAFT_CPUS] session (default: the number of usable cores),
waits for each pipeline run to finish and starts the next.

One run of this script:

1. sets up three times (start a Spark session, warm the JVM, make the
   seeded inputs) and reports the median as ``setup_s``;
2. repeats the pipeline for ``--seconds``, at least once, and reports
   medians. The first run is the first of the session: one run of
   anon_6d takes 35-60 s on a 4-core host, so a warm-up run would
   double the cost of every benchmark run;
3. checks the last result against an independent NumPy reference (and,
   for seeds recorded in perfbench/expected.json, against the recorded
   digest), and every other run's digest against the last one's; this
   yields ``info_loss`` and ``recall_at_k``.

Times are wall-clock seconds scaled by the share of the CPU time this
machine asked for that the hypervisor gave it, busy / (busy + steal),
both read from /proc/stat: the time the run would take on CPUs of its
own. On a shared 4-core host steal added 0-25 s to a 45 s run: the raw
wall times of one workload over five seeds spread by 25-41% of their
median (quartile distance), the scaled ones over ten seeds by 9-12%.
The raw wall times are kept in the line before the result.

With ``--trace 1`` it sets up once with the layer tracer on, makes one
traced run and reports the per-layer metrics of perfbench/trace.py,
including the time the tracer spent on itself.

Everything it writes goes to .perfbench_work/ under the tree root, which
it empties at start and end. The last line of stdout is the JSON result;
the line before it records the samples, the phases and the environment.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
N_SETUPS = 3
DEADLINE_S = 170

END_TO_END_UNITS = {
    "wall_s": "s",
    "rows_per_s": "1/s",
    "cpu_s": "s",
    "driver_rss_mb": "MB",
    "setup_s": "s",
    "info_loss": "per_row",
    "recall_at_k": "ratio",
}


# -- process accounting ---------------------------------------------------------


def _stat_fields(pid):
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _children_map():
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                ppid = int(_stat_fields(name)[1])
            except (OSError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(name))
    return kids


def cpu_seconds(jvm_pid):
    """CPU seconds of this driver plus the JVM and its descendants (the
    Python workers): user + system, with reaped children folded in."""
    tick = os.sysconf("SC_CLK_TCK")
    me = _stat_fields("self")
    total = int(me[11]) + int(me[12])
    kids = _children_map()
    todo = [jvm_pid]
    while todo:
        pid = todo.pop()
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])
        todo.extend(kids.get(pid, []))
    return total / tick


def reset_peak_rss(pid):
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(pid):
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def vm_cpu_seconds():
    """(busy, steal): CPU seconds this machine's CPUs spent running, and
    waiting while the hypervisor ran other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    tick = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / tick, steal / tick


class Stopwatch:
    """Wall seconds since start, raw and scaled by the share of the CPU
    time asked for that the hypervisor gave: busy / (busy + steal)."""

    def __init__(self):
        self.t0, self.vm0 = time.perf_counter(), vm_cpu_seconds()

    def read(self):
        wall = time.perf_counter() - self.t0
        busy, steal = (b - a for a, b in zip(self.vm0, vm_cpu_seconds()))
        return wall, (wall * busy / (busy + steal) if busy + steal > 0 else wall), steal


# -- session ------------------------------------------------------------------------


def session_conf():
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        # no hsperfdata file under the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
    }


def start_session(session):
    spark = session.get_session("perfbench", extra_conf=session_conf())
    spark.sparkContext.setLogLevel("ERROR")
    # one tiny job per physical-operator family, so class loading and
    # code generation are paid here and not by the first measured run
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    r = spark.range(2000).withColumn("k", F.col("id") % 7)
    r.join(F.broadcast(r.select("k").distinct()), "k").groupBy("k").count().collect()
    r.select(F.row_number().over(Window.partitionBy("k").orderBy("id")).alias("n")).agg(
        F.sum("n")
    ).collect()
    return spark


def jvm_pid(spark):
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def stop_jvm(spark):
    """Stop the session and the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if spark is not None:
        spark.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# -- the run ----------------------------------------------------------------------


def environment(spark):
    sc = spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "spark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def expected_digest(workload, seed):
    """The digest recorded for (workload, seed) in perfbench/expected.json,
    or None. The file also names a held-out seed: one not used while a
    change is written, on which a claimed gain is checked again."""
    with open(os.path.join(ROOT, "perfbench", "expected.json")) as f:
        return json.load(f)["digests"].get(workload, {}).get(str(seed))


def measure(args, W, T):
    setup, run, check = W.WORKLOADS[args.workload]
    traced = bool(args.trace)
    tracer = T.Tracer() if traced else None
    null = T.NullTracer()
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "load_start": loadavg()}
    whole = Stopwatch()
    t_proc = time.perf_counter()
    phases = info["phases_s"] = {}

    def phase(name):
        phases[name] = round(time.perf_counter() - t_proc - sum(phases.values()), 3)

    spark = None
    setup_s = []
    if tracer:
        tracer.install()
    for _ in range(1 if traced else N_SETUPS):
        watch = Stopwatch()
        if spark is not None:
            spark.stop()
        spark = start_session(W.session)
        state = setup(spark, args.seed)
        setup_s.append(watch.read()[1])
    if tracer:
        tracer.uninstall()
    info["env"] = environment(spark)
    info["setup_s_runs"] = [round(s, 4) for s in setup_s]
    jpid = jvm_pid(spark)
    phase("setup")

    store = spark.sparkContext._jsc.sc().statusStore()
    jobs0 = store.jobsList(None).size()
    walls, raw_walls, cpus, digests = [], [], [], []
    reset_peak_rss("self")
    reset_peak_rss(jpid)
    if tracer:
        tracer.install()
    try:
        # the traced run is a single one: its per-layer counts do not vary
        # between runs, and the tracer measures its own overhead
        while not walls or (not traced and sum(walls) < args.seconds):
            c0, watch = cpu_seconds(jpid), Stopwatch()
            digests.append(_attempt(run, state, tracer or null))
            raw, net, _ = watch.read()
            raw_walls.append(raw)
            walls.append(net)
            cpus.append(cpu_seconds(jpid) - c0)
    finally:
        if tracer:
            tracer.uninstall()
    driver_rss = peak_rss_mb("self")
    # recorded, not a metric: the JVM's peak RSS follows GC timing; over
    # five seeds on a 4-core host its quartile spread was 8-34% of the
    # median, wider than any bound a metric may have
    info["jvm_rss_mb"] = peak_rss_mb(jpid)
    info["jobs_per_run"] = (store.jobsList(None).size() - jobs0) / len(walls)
    phase("traced" if traced else "timed")

    # the last result against the independent reference (and the digest
    # recorded for this seed); every other run against the last one
    good = digests[-1]
    want = expected_digest(args.workload, args.seed)
    try:
        quality = check(state)
        if want is not None and good != want:
            raise AssertionError(f"digest {good} != recorded {want}")
    except Exception as e:
        print(f"perfbench: check failed: {e!r}", file=sys.stderr)
        good = None
    phase("check")
    info["load_end"] = loadavg()
    info["steal_s"] = round(whole.read()[2], 2)
    info["digest"] = good
    ok = [d is not None and d == good for d in digests]
    failed = ok.count(False)
    walls = [w for w, k in zip(walls, ok) if k]
    cpus = [c for c, k in zip(cpus, ok) if k]
    info["samples"] = len(walls)
    # the highest percentile above the median with ten samples beyond it
    info["highest_percentile"] = 100 * (1 - 10 / len(walls)) if len(walls) > 20 else None
    info["wall_s_runs"] = [round(w, 4) for w in walls]
    info["raw_wall_s_runs"] = [round(w, 4) for w, k in zip(raw_walls, ok) if k]

    metrics = {}
    if not failed and traced:
        tracer.harvest(spark.sparkContext)
        units = T.metric_units()
        metrics = {k: {"value": float(v), "unit": units[k]}
                   for k, v in tracer.layer_metrics().items()}
    elif not failed:
        wall = statistics.median(walls)
        values = {
            "wall_s": wall,
            "rows_per_s": state["rows"] / wall,
            "cpu_s": statistics.median(cpus),
            "driver_rss_mb": driver_rss,
            "setup_s": statistics.median(setup_s),
            "info_loss": quality["info_loss"],
            "recall_at_k": quality["recall_at_k"],
        }
        metrics = {k: {"value": float(v), "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    return spark, info, {"correct": failed == 0, "attempted": len(digests),
                         "failed": failed, "metrics": metrics}


def _attempt(run, state, tr):
    """One run: its digest, or None when it raises. A failed run counts,
    and the loop goes on."""
    state.pop("last", None)
    try:
        return run(state, tr)
    except Exception as e:
        print(f"perfbench: run failed: {e!r}", file=sys.stderr)
        return None


class Deadline(BaseException):
    """Raised by the alarm; not an Exception, so no run swallows it."""


def _on_deadline(signum, frame):
    raise Deadline(f"benchmark exceeded {DEADLINE_S} s")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "dbscan_pyspark_spark")):
        print("perfbench: no dbscan_pyspark_spark package in the tree root", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    # every temporary file of Python, Spark and the JVM stays in the tree
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "tmp")
    os.environ["PERFBENCH_WORK"] = WORK
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)

    from perfbench import trace as T
    from perfbench import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGALRM, _on_deadline)
    signal.alarm(DEADLINE_S)
    spark, info = None, {"workload": args.workload, "seed": args.seed}
    try:
        spark, info, result = measure(args, W, T)
    except (Exception, Deadline) as e:
        print(f"perfbench: {args.workload} failed: {e!r}", file=sys.stderr)
        result = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    finally:
        signal.alarm(0)
        try:
            stop_jvm(spark)
        finally:
            shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
