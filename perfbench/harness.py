"""Run one workload: set up, measure a closed loop of jobs, check, report.

One client: the next job starts only when the previous one has finished.
One Spark session at ``local[nproc]``. The session and the engine's
defaults come from ``tsfeatures_spark.session.get_spark``; the benchmark
only keeps Spark's files inside the checkout and turns console progress
and the web UI off.
"""

from __future__ import annotations

import json
import os
import signal
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.metrics import END_TO_END, PER_LAYER, WORKLOAD_FIGURES
from perfbench.stats import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the engine sources a run needs; without them the run fails before Spark
REQUIRED = ["tsfeatures_spark/__init__.py", "__spark_entry__.py",
            "tools/gen_sf_scale.py", "tools/check_correctness.py"]

# environment that steers get_spark; cleared so every run uses the engine's
# defaults at local[nproc]
_SESSION_ENV = ["SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM",
                "SPARK_GRAFT_DRIVER_JAVA_OPTS", "SPARK_GRAFT_EXTRA_CONF",
                "SPARK_GRAFT_EXEC_MEM"]

# input generation is repeated this many times in set-up; setup_s takes the
# median (the session start and the warm-up happen once per process)
INPUT_REPEATS = 3

_CLK = os.sysconf("SC_CLK_TCK")


def missing_sources(root: str = ROOT) -> list[str]:
    return [p for p in REQUIRED if not os.path.exists(os.path.join(root, p))]


def cores() -> int:
    return len(os.sched_getaffinity(0))


# -- process tree ------------------------------------------------------------
def _proc_table() -> dict[int, tuple[str, list[str]]]:
    """pid -> (command name, the /proc/<pid>/stat fields after it)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        # fields after "(comm) ": state ppid ... utime(11) stime cutime cstime
        out[int(d)] = (s[s.index("(") + 1:s.rindex(")")], s[s.rindex(")") + 2:].split())
    return out


def _tree(root: int) -> list[tuple[int, str, list[str]]]:
    """(pid, command name, stat fields) of ``root`` and its descendants."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (_, f) in table.items():
        kids.setdefault(int(f[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append((pid, *table[pid]))
            todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """utime+stime of this process tree, reaped children included."""
    return sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
               for _, _, f in _tree(root or os.getpid())) / _CLK


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs (the
    ``steal`` column of /proc/stat): a busy host shows up here."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK


def reset_peak_rss(root: int | None = None) -> None:
    """Restart every live process's peak resident set (VmHWM) from its
    current one, so a later ``tree_peak_rss_bytes`` covers only what ran
    in between (``/proc/<pid>/clear_refs``, value 5)."""
    for pid, _, _ in _tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def tree_peak_rss_bytes(root: int | None = None) -> dict[str, int]:
    """Sum of each live process's peak resident set (VmHWM, kept by the
    kernel, so nothing is sampled), for the JVM and for the Python driver
    and workers apart."""
    total = {"jvm": 0, "python": 0}
    for pid, comm, _ in _tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as st:
                hwm = next(int(line.split()[1]) * 1024 for line in st
                           if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        total["jvm" if comm == "java" else "python"] += hwm
    return total


@dataclass
class Job:
    """Wall and process-tree CPU seconds of one job, per timed segment."""

    wall: dict[str, float] = field(default_factory=dict)
    cpu: dict[str, float] = field(default_factory=dict)

    @contextmanager
    def timed(self, name: str):
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            yield
        finally:
            self.wall[name] = self.wall.get(name, 0.0) + time.perf_counter() - t0
            self.cpu[name] = self.cpu.get(name, 0.0) + tree_cpu_s() - c0

    @property
    def wall_s(self) -> float:
        return sum(self.wall.values())

    @property
    def cpu_s(self) -> float:
        return sum(self.cpu.values())


# -- Spark session -------------------------------------------------------------
def configure_env(workdir: str, trace: bool) -> None:
    """Keep Spark's and Python's scratch files under ``workdir``, let the
    Python workers import the engine from the checkout, and (traced runs)
    write the Spark event log. Must run before numpy is imported and
    before pyspark starts the JVM."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for k in _SESSION_ENV:
        os.environ.pop(k, None)
    os.environ["TMPDIR"] = tmp
    # one BLAS/OpenMP thread in this process, as the engine sets for its
    # Python workers: driver-side kernel timings then compare with theirs
    for k in ("OMP_NUM_THREADS", "MKL_NUM_THREADS", "OPENBLAS_NUM_THREADS"):
        os.environ[k] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        "spark.local.dir": os.path.join(workdir, "local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
    }
    if trace:
        log_dir = os.path.join(workdir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false"})
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(f"{k}={v}" for k, v in conf.items())
    import tempfile

    tempfile.tempdir = None


def start_spark():
    from tsfeatures_spark.session import get_spark

    n = cores()
    spark = get_spark("perfbench", cpus=n, shuffle_partitions=max(n, 8))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # the session's first job, slow on a cold JVM
    # the Python workers import the engine from PYTHONPATH (configure_env);
    # the entry module's zip shipping would write outside the checkout
    import __spark_entry__

    __spark_entry__._PYFILES_SHIPPED = True
    return spark


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return False
    return s[s.rindex(")") + 2] != "Z"


def stop_spark(spark) -> None:
    """Stop the session and the JVM pyspark launched, and wait until every
    process started under this one (the JVM and the Python workers it
    forked, which outlive it briefly) has ended."""
    from pyspark import SparkContext

    started = [pid for pid, _, _ in _tree(os.getpid()) if pid != os.getpid()]
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in filter(_alive, started):
        os.kill(pid, signal.SIGKILL)


# -- one run -------------------------------------------------------------------
@dataclass
class Context:
    """What a workload is given: the session, the seed, its scratch
    directory and, in a traced run, the tracer."""

    spark: object
    seed: int
    workdir: str
    tracer: object = None


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    figures: dict[str, tuple[float, str]] = field(default_factory=dict)
    properties: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)

    def op(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)


def _run_job(w, res: Result) -> Job | None:
    job = Job()
    try:
        w.prepare()
        w.job(job)
    except Exception:
        traceback.print_exc()
        res.op(["job raised: " + traceback.format_exc(limit=1).strip().splitlines()[-1]])
        return None
    res.op([])
    return job


def run(workload_cls, seed: int, seconds: float, trace: bool, workdir: str) -> Result:
    res = Result()
    t0 = time.perf_counter()
    spark = start_spark()
    session_s = time.perf_counter() - t0
    try:
        from perfbench.trace import Tracer

        ctx = Context(spark, seed, workdir, Tracer() if trace else None)
        w = workload_cls(ctx)
        input_s = []
        for _ in range(INPUT_REPEATS):
            t = time.perf_counter()
            w.inputs()
            input_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        w.warm_up()
        # a traced run compares jobs in the same state: none of them may be
        # the first of its kind in the session
        for _ in range(max(w.warm_jobs, int(trace))):
            if _run_job(w, res) is None:
                break
        warm_s = time.perf_counter() - t
        setup_s = session_s + median(input_s) + warm_s

        # peak memory of the timed body only, not of set-up
        reset_peak_rss()
        steal0 = steal_s()
        jobs: list[Job] = []
        if trace:
            # traced, then untraced (both after the warm jobs): the
            # overhead is the traced job minus the untraced one
            with w.tracing():
                traced = _run_job(w, res)
            untraced = _run_job(w, res)
            if traced and untraced:
                jobs = [traced, untraced]
                layers = w.layer_probes(jobs)
                layers["trace.overhead_s"] = traced.wall_s - untraced.wall_s
        else:
            while not jobs or sum(j.wall_s for j in jobs) < seconds:
                job = _run_job(w, res)
                if job is None:
                    break
                jobs.append(job)
        peak_rss = tree_peak_rss_bytes()
        stolen_s = steal_s() - steal0
        t = time.perf_counter()
        if res.failed == 0:
            for check in w.checks():
                try:
                    res.op(check())
                except Exception:
                    traceback.print_exc()
                    res.op([f"{check.__name__} raised"])
        checks_s = time.perf_counter() - t
        res.properties = w.properties()
    finally:
        stop_spark(spark)

    res.jobs = jobs
    if res.failed:
        return res
    if trace:
        from perfbench.sparklog import read_groups

        layers.update(w.spark_layers(read_groups(os.path.join(workdir, "eventlog"))))
        want = set(w.layers) | {"trace.overhead_s"}
        if set(layers) != want:
            raise RuntimeError(f"{w.name} layer metrics differ from its list: "
                               f"{sorted(set(layers) ^ want)}")
        res.metrics = {k: (float(layers.get(k, 0.0)), u) for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": setup_s,
            "job_s": median([j.wall_s for j in jobs]),
            "cpu_s": median([j.cpu_s for j in jobs]),
            "peak_rss_gb": (peak_rss["jvm"] + peak_rss["python"]) / 1e9,
        }
        res.metrics = {k: (values[k], u) for k, u in END_TO_END.items()}
    units = WORKLOAD_FIGURES[w.name]
    res.figures = {k: (v, units[k]) for k, v in w.figures(jobs).items()}
    res.figures.update({
        "jobs": (float(len(jobs)), "count"),
        "setup.session_s": (session_s, "s"),
        "setup.inputs_s": (median(input_s), "s"),
        "setup.warm_up_s": (warm_s, "s"),
        "checks_s": (checks_s, "s"),
        "steal_s": (stolen_s, "s"),
        "jvm_peak_rss_gb": (peak_rss["jvm"] / 1e9, "GB"),
        "python_peak_rss_gb": (peak_rss["python"] / 1e9, "GB"),
    })
    if trace:
        # spans stay in memory until the run ends; kept beside the work dir
        ctx.tracer.dump(os.path.join(os.path.dirname(workdir), f"trace-{w.name}-{seed}.json"),
                        workload=w.name, seed=seed,
                        layers=sorted(set(w.layers) | {"trace.overhead_s"}),
                        figures={k: v for k, (v, _) in res.figures.items()},
                        metrics={k: v for k, (v, _) in res.metrics.items()},
                        properties=res.properties)
    return res


def report(workload: str, res: Result, out=sys.stdout) -> None:
    """Human-readable lines, then the one-line JSON result last."""
    for k, v in res.properties.items():
        print(f"input {k} = {json.dumps(v)}", file=out)
    for k, (v, u) in {**res.figures, **res.metrics}.items():
        print(f"metric {workload} {k} = {v:.6g} {u}", file=out)
    for i, j in enumerate(res.jobs):
        print(f"job {i} wall_s = {j.wall_s:.4f} cpu_s = {j.cpu_s:.2f} "
              + " ".join(f"{k}={v:.4f}" for k, v in j.wall.items()), file=out)
    share = res.failed / res.attempted if res.attempted else 1.0
    print(f"metric {workload} failed_op_share = {share:.6g} ratio", file=out)
    for p in res.problems:
        print(f"FAILED {p}", file=out)
    correct = res.failed == 0 and res.attempted > 0
    print(json.dumps({
        "correct": correct,
        "attempted": max(res.attempted, 1),
        "failed": res.failed if res.attempted else 1,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res.metrics.items()},
    }), file=out)
