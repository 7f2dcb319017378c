"""Run loop, process bookkeeping and Spark metric collection shared by
every workload.

One run is: host calibration, several timed set-ups (the median is
``setup_s``), untimed warm-up passes of which the first doubles as the
correctness reference, a closed-loop window of passes, checks, and
teardown. In a traced run the window is split: the first half runs
untraced, the second half records spans, and the difference of the two halves'
``pass_s`` is the tracing overhead.
"""

from __future__ import annotations

import json
import os
import re
import shlex
import signal
import subprocess
import sys
import threading
import time
import urllib.request
from dataclasses import dataclass, field

from perfbench import stats
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
NPROC = os.cpu_count() or 1
SETUP_REPS = 5

# Plan nodes that run Python: UDF evaluation, pandas/Arrow maps and
# UDTFs, plus Python data source scans ("BatchScan <name>[...] (Python)").
PYTHON_NODES = re.compile(
    r"\b(?:BatchEvalPython|ArrowEvalPython|BatchEvalPythonUDTF|ArrowEvalPythonUDTF|MapInPandas"
    r"|MapInArrow|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas)\b"
    r"|\(Python\)"
)


class WrongOutput(Exception):
    """An op finished but its output does not match the reference."""


def prepare_env() -> None:
    """Point every scratch location at the checkout-local cache before
    pyspark starts: Spark local dirs, temp files, the warehouse."""
    for sub in ("spark-local", "tmp", "warehouse", "traces"):
        os.makedirs(os.path.join(CACHE, sub), exist_ok=True)
    tmp = os.path.join(CACHE, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # no JVM perf-data files outside the checkout (launcher and Spark JVMs)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers import the program from this checkout, whatever the cwd.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    # The driver heap is pinned through the program's own knob. At the
    # program's 8g default the JVM grows its heap lazily, so peak RSS on
    # curation_corpus ranged 2.7-5.1 GB over ten seeds on a 4-core host
    # (interquartile spread 0.54 of the median) and no memory bound could
    # hold; at 2g the same spread was 0.15-0.19.
    os.environ["SPARK_GRAFT_DRIVER_MEMORY"] = "2g"
    # master and shuffle width: the program's defaults for local[NPROC]
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.port": "0",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    import tempfile

    tempfile.tempdir = tmp


# -- processes -----------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, cmdline) for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
            with open(f"/proc/{name}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        out[int(name)] = (int(raw[raw.rfind(")") + 2:].split()[1]), cmd)
    return out


def descendants(root: int, exclude: set[int] = frozenset(), table: dict | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        for k in kids.get(pid, []):
            if k not in exclude:
                out.append(k)
                frontier.append(k)
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeMeter(threading.Thread):
    """Peak RSS of the process tree (this process, the Spark JVM and its
    Python workers; the fixture excluded) and the Python workers seen,
    from /proc.

    This process and the JVM live through the whole run, so their exact
    kernel high-water marks (VmHWM) are used. Python workers come and go,
    so their summed current RSS is sampled every ``interval`` seconds and
    its maximum taken; summing per-worker high-water marks instead would
    count every worker that ever lived as if all were alive at once."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.exclude: set[int] = set()
        self.workers: set[int] = set()
        self.workers_peak_kb = 0
        self.long_lived_kb: dict[int, int] = {}
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        me = os.getpid()
        table = _proc_table()
        worker_kb = 0
        for pid in descendants(me, self.exclude, table):
            cmd = table.get(pid, (0, ""))[1]
            if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
                self.workers.add(pid)
                worker_kb += _status_kb(pid, "VmRSS:")
            elif "java" in cmd:
                self.long_lived_kb[pid] = max(self.long_lived_kb.get(pid, 0), _status_kb(pid, "VmHWM:"))
        self.long_lived_kb[me] = _status_kb(me, "VmHWM:")
        self.workers_peak_kb = max(self.workers_peak_kb, worker_kb)

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return (sum(self.long_lived_kb.values()) + self.workers_peak_kb) / 1024.0


def wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.time() + timeout
    alive = list(pids)
    while alive and time.time() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if alive:
            time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    for p in alive:
        while os.path.exists(f"/proc/{p}") and not _zombie(p):
            time.sleep(0.02)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
        return raw[raw.rfind(")") + 2] == "Z"
    except OSError:
        return True


# -- Spark ---------------------------------------------------------------------

def start_spark(app: str):
    from erpl_web_spark.session import get_spark

    spark = get_spark(app, master=f"local[{NPROC}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop Spark if a JVM was started, close the gateway and wait for
    every process the JVM started (Python workers included) to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    pids = descendants(proc.pid) + [proc.pid] if proc else []
    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception as e:  # teardown goes on: the JVM is stopped below anyway
            print(f"[perfbench] SparkContext.stop failed: {e}", file=sys.stderr)
    try:
        gw.shutdown()
    except Exception as e:
        print(f"[perfbench] gateway shutdown failed: {e}", file=sys.stderr)
    if proc:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_gone(pids, 10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def python_plan_nodes(df) -> int:
    return len(PYTHON_NODES.findall(df._jdf.queryExecution().executedPlan().toString()))


def rest(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def spark_metrics_by_group(spark, groups: list[str]) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, task/CPU/GC seconds and
    shuffle/spill/input MB, from the UI REST API. Waits until the status
    store has caught up with every finished job of the groups."""
    tracker = spark.sparkContext.statusTracker()
    want = {g: set(tracker.getJobIdsForGroup(g)) for g in groups}
    deadline = time.time() + 15
    while True:
        jobs = rest(spark, "jobs")
        done = {(j.get("jobGroup"), j["jobId"]) for j in jobs if j["status"] != "RUNNING"}
        if all((g, j) in done for g, ids in want.items() for j in ids) or time.time() > deadline:
            break
        time.sleep(0.2)
    stages = {}
    for s in rest(spark, "stages"):
        stages.setdefault(s["stageId"], []).append(s)
    out = {}
    for g in groups:
        acc = {
            "spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0, "spark.task_s": 0.0,
            "spark.task_cpu_s": 0.0, "spark.gc_s": 0.0, "spark.shuffle_read_mb": 0.0,
            "spark.shuffle_write_mb": 0.0, "spark.spill_mb": 0.0, "spark.input_mb": 0.0,
        }
        for j in jobs:
            if j.get("jobGroup") != g:
                continue
            acc["spark.jobs"] += 1
            for sid in j["stageIds"]:
                for s in stages.get(sid, []):
                    if s["status"] == "SKIPPED":
                        continue
                    acc["spark.stages"] += 1
                    acc["spark.tasks"] += s["numCompleteTasks"]
                    acc["spark.task_s"] += s["executorRunTime"] / 1e3
                    acc["spark.task_cpu_s"] += s["executorCpuTime"] / 1e9
                    acc["spark.gc_s"] += s.get("jvmGcTime", 0) / 1e3
                    acc["spark.shuffle_read_mb"] += s["shuffleReadBytes"] / 2**20
                    acc["spark.shuffle_write_mb"] += s["shuffleWriteBytes"] / 2**20
                    acc["spark.spill_mb"] += (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / 2**20
                    acc["spark.input_mb"] += s["inputBytes"] / 2**20
        out[g] = acc
    return out


def row_hash(cols):
    """A row's 32-bit value hash: xxhash64 over the columns, masked so a
    sum over a million rows cannot overflow."""
    from pyspark.sql import functions as F

    return F.xxhash64(*cols).bitwiseAND(0xFFFFFFFF)


def observe(df, aggs: dict) -> dict:
    """Force ``df`` with a noop write (the whole plan runs, no rows are
    collected) and return the named aggregates observed on the way."""
    from pyspark.sql import Observation

    obs = Observation()
    df.observe(obs, *[a.alias(k) for k, a in aggs.items()]).write.format("noop").mode("overwrite").save()
    return obs.get


def observe_write(df, with_hash: bool = True) -> tuple[int, int | None]:
    """Force ``df``; return (rows, order-insensitive value hash: the sum
    of the rows' ``row_hash``)."""
    from pyspark.sql import functions as F

    aggs = {"rows": F.count(F.lit(1))}
    if with_hash:
        aggs["h"] = F.sum(row_hash([F.col(c) for c in df.columns]))
    got = observe(df, aggs)
    return int(got["rows"]), (int(got["h"] or 0) if with_hash else None)


# -- the run -------------------------------------------------------------------

@dataclass
class OpResult:
    name: str
    seconds: float
    rows: int
    ok: bool
    error: str = ""


@dataclass
class Ctx:
    """What an op sees: the tracer, and where traced plans are noted."""

    tracer: Tracer
    extra: dict = field(default_factory=dict)

    def force(self, df, with_hash: bool = True) -> tuple[int, int | None]:
        """Plan (traced runs only: planning measured on its own) and
        execute ``df``; returns the observed (rows, hash)."""
        if self.tracer.enabled:
            with self.tracer.span("plan", "spark"):
                self.extra.setdefault("python_nodes", []).append(python_plan_nodes(df))
        with self.tracer.span("execute", "spark"):
            return observe_write(df, with_hash)


class Workload:
    """Interface every workload implements."""

    name = ""
    # untimed passes before the window; the first is the correctness reference
    warmup_passes = 1

    def build(self) -> None:
        """Create or load the seeded inputs (cached; not part of set-up)."""

    def setup(self, spark) -> None:
        """Per-session set-up: fixture, input registration, persists."""

    def unsetup(self) -> None:
        """Undo ``setup`` before the next set-up repetition."""

    def ops(self, pass_no: int) -> list[tuple[str, object]]:
        """The ops of one pass as (name, fn(ctx) -> rows processed)."""
        raise NotImplementedError

    def warmup_check(self, spark) -> list[str]:
        """Reference checks made once per run, right after the warm-up
        pass (whose outputs they may verify); returns problems."""
        return []

    def before_op(self, op_id: str) -> None:
        """Called just before an op's timer starts."""

    def after_op(self, op_id: str) -> None:
        """Called just after an op's timer stops."""

    def after_pass(self, spark) -> list[str]:
        """Checks after each pass, outside the timed ops (problems)."""
        return []

    def fixture_pids(self) -> set[int]:
        """Processes ``setup`` started that are not part of the program."""
        return set()

    def layer_metrics(self, spark, results, traced_ops, untraced_ops, group_metrics) -> dict[str, float]:
        """Per-layer metrics of this workload's own layers (traced runs)."""
        return {}

    def close(self) -> None:
        """Stop anything ``setup`` started."""


def run_window(wl: Workload, spark, tracer: Tracer, seconds: float, first_pass: int,
               results: list[OpResult], problems: list[str], ctx_extra: dict) -> int:
    """Closed loop: one client runs ops back to back until ``seconds`` of
    op time have been spent; a pass that has begun is finished so at
    least one whole pass is always measured. Returns the next pass no."""
    sc = spark.sparkContext
    spent, p = 0.0, first_pass
    while True:
        t_pass = 0.0
        for name, fn in wl.ops(p):
            op_id = f"p{p}-{name}"
            tracer.op = op_id
            sc.setJobGroup(op_id, f"perfbench {wl.name} {op_id}")
            ctx = Ctx(tracer, ctx_extra)
            wl.before_op(op_id)
            t0 = time.perf_counter()
            try:
                with tracer.span(name, "bench"):
                    rows = fn(ctx)
                ok, err = True, ""
            except WrongOutput as e:
                rows, ok, err = 0, False, f"wrong output: {e}"
            except Exception as e:  # an op that fails counts as failed, the run goes on
                rows, ok, err = 0, False, f"{type(e).__name__}: {str(e)[:300]}"
            dt = time.perf_counter() - t0
            wl.after_op(op_id)
            tracer.op = None
            results.append(OpResult(op_id, dt, rows, ok, err))
            print(f"[perfbench] {op_id} {dt:.3f}s rows={rows} {err}", file=sys.stderr, flush=True)
            t_pass += dt
        sc.setJobGroup("perfbench-checks", "perfbench checks")
        try:
            problems.extend(wl.after_pass(spark))
        except Exception as e:
            problems.append(f"p{p} checks failed: {type(e).__name__}: {str(e)[:300]}")
        spent += t_pass
        p += 1
        if spent >= seconds:
            return p


def summarize(results: list[OpResult]) -> dict:
    """Window figures from per-op medians. A pass mixes ops of very
    different lengths, so a median over the pooled op times falls in the
    gap between two kinds of op and jumps with a few samples; each kind's
    own median does not. ``pass_s`` is the sum of the kinds' medians (the
    median pass, op by op), ``op_p50_s`` the median of the kinds' medians,
    and ``rows_per_s`` the rows of one pass over ``pass_s``. ``op_tail_s``
    follows ``stats.tail`` over the pooled op times; below the twenty
    samples that rule needs, it is ``op_p50_s``."""
    kinds: dict[str, list[OpResult]] = {}
    for r in results:
        kinds.setdefault(r.name.split("-", 1)[1], []).append(r)
    medians = [stats.median([r.seconds for r in rs]) for rs in kinds.values()]
    pass_rows = sum(stats.median([r.rows for r in rs]) for rs in kinds.values())
    pass_s = sum(medians)
    tail_v, tail_p, beyond = stats.tail([r.seconds for r in results])
    p50 = stats.median(medians)
    return {
        "pass_s": pass_s,
        "op_p50_s": p50,
        "op_tail_s": tail_v if beyond >= 10 else p50,
        "tail_percentile": tail_p,
        "tail_beyond": beyond,
        "ops": len(results),
        "rows_per_s": pass_rows / pass_s,
    }


# -- workloads and their inputs ------------------------------------------------

WORKLOADS = ["odata_ingest", "curation_corpus"]
BUILD_LIMIT_S = 800


def make_workload(name: str, seed: int, tracer: Tracer) -> Workload:
    if name == "odata_ingest":
        from perfbench.wl_odata import ODataIngest

        return ODataIngest(seed, tracer)
    if name == "curation_corpus":
        from perfbench.wl_curation import CurationCorpus

        return CurationCorpus(seed, tracer)
    raise ValueError(f"unknown workload {name!r}; the workloads are {WORKLOADS}")


def build_inputs(workload: str, seed: int) -> None:
    """Build the workload's cached inputs in a process of its own, so
    neither this process nor the measured JVM carries the memory of
    generating them. Waits for every process the build started."""
    script = os.path.join(ROOT, "perfbench", "build_inputs.py")
    child = subprocess.Popen([sys.executable, script, workload, str(seed)], cwd=ROOT, start_new_session=True)
    try:
        code = child.wait(timeout=BUILD_LIMIT_S)
    except BaseException:
        pids = descendants(child.pid) + [child.pid]
        try:
            os.killpg(child.pid, signal.SIGKILL)  # the build's JVM is in its process group
        except ProcessLookupError:
            pass
        child.wait()
        wait_gone(pids, 10)
        raise
    if code != 0:
        raise RuntimeError(f"building the {workload} inputs for seed {seed} exited {code}")
