"""Shared pieces of the benchmark: where it may write, Spark session
set-up, peak memory, the host probe, the generator process, the span
recorder that wraps the program's public functions, and readers of
Spark's own job and SQL metric records.

Everything the benchmark writes goes under ``perfbench/.work`` in the
checkout: Spark's local and temporary directories are pointed there
before the JVM starts.
"""

from __future__ import annotations

import json
import os
import resource
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from typing import Any, Callable

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Keep every file the run makes inside ``WORK`` and size Spark to
    the host: ``local[nproc]``, a 2 GiB driver heap."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the session's own -Xss16m, plus a fixed heap size so that heap
    # resizing adds no noise to peak RSS
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} "
        '--conf "spark.driver.extraJavaOptions=-Xss16m -Xms2g" pyspark-shell'
    )
    # Spark's Python workers import the program too
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def prepare_inputs(scale: int, seed: int, oracles: bool = False) -> str:
    """The seeded tables (and, with ``oracles``, the DuckDB oracle results
    of the headline cells), made in a child process so that their memory
    never counts in the driver's peak RSS. Returns the data directory."""
    cmd = [sys.executable, os.path.join(HERE, "prepare.py"), "--scale", str(scale), "--seed", str(seed)]
    out = subprocess.run(cmd + (["--oracles"] if oracles else []), stdout=subprocess.PIPE, text=True, check=True)
    return out.stdout.strip().splitlines()[-1]


def build_session():
    """The program's own session builder, at the host's core count."""
    from gomaxscale_spark.session import get_session

    return get_session("perfbench", cpus=nproc())


def stop_jvm() -> None:
    """Let the JVM that the session launched exit, and wait until it has:
    it exits when its standard input closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int | None = None) -> float:
    """Peak resident memory of this process plus, if given, the JVM."""
    total_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if pid is not None:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kib += int(line.split()[1])
    return total_kib / 1024.0


def probe(spark, registry, data_dir: str) -> list[float]:
    """The frozen ``scan_filter_project`` plan, three times."""
    import bench

    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        bench.materialize(registry["scan_filter_project"].fn(spark, data_dir))
        runs.append(time.perf_counter() - t0)
    return runs


# -- generator process -----------------------------------------------------


class GeneratorProcess:
    """``gen_cdc.py`` as a child process: started, asked for its port,
    fed control lines, and always stopped and waited for."""

    def __init__(self, seed: int, *extra: str) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen_cdc.py"), "--seed", str(seed), *extra],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        line = self.proc.stdout.readline().split()
        if line[:1] != ["READY"]:
            self.close()
            raise RuntimeError(f"generator did not start: {line}")
        self.port = int(line[1])

    def prepare(self) -> None:
        """Have the generator build its changelog (outside any timed
        window) and wait until it has."""
        self.send("prepare")
        self.read_report("PREPARED")

    def send(self, command: str) -> None:
        self.proc.stdin.write(command + "\n")
        self.proc.stdin.flush()

    def read_report(self, tag: str):
        for line in self.proc.stdout:
            if line.startswith(tag + " "):
                return json.loads(line[len(tag) + 1 :])
        raise RuntimeError(f"generator exited before reporting {tag}")

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.send("stop")
            except (BrokenPipeError, OSError):
                pass
            try:
                self.proc.wait(timeout=5)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        for f in (self.proc.stdin, self.proc.stdout):
            f.close()


def handshake(port: int, table: str = "probe"):
    """A CDC client connected to the generator, handshake done."""
    from gomaxscale_spark.sources.client import CDCClient

    client = CDCClient("127.0.0.1", port, "bench", table, user="bench", password="bench")
    client.connect()
    return client


# -- spans -----------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent span, request id and
    counts. Written out once, by :meth:`dump`, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack = threading.local()
        self._lock = threading.Lock()
        self.request: str | None = None
        self._undo: list[Callable[[], None]] = []

    def _parents(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    @contextmanager
    def span(self, name: str, **counts: Any):
        parents = self._parents()
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": parents[-1] if parents else None,
            "request": self.request,
            "counts": counts,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        parents.append(rec["id"])
        try:
            yield rec
        finally:
            parents.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, request: str, counts: dict) -> None:
        """Record an already-timed span with no parent."""
        with self._lock:
            self.spans.append(
                {"id": len(self.spans), "name": name, "start": start, "end": end,
                 "parent": None, "request": request, "counts": counts}
            )

    def wrapped(self, name: str, fn: Callable, on_call: Callable | None = None) -> Callable:
        """``fn`` recording a span per call; ``on_call(*args, **kwargs)``,
        run before the span opens, may return the span's counts."""
        tracer = self

        def wrapper(*args, **kwargs):
            counts = on_call(*args, **kwargs) if on_call is not None else None
            with tracer.span(name, **(counts or {})):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    def wrap_everywhere(self, module_prefix: str, orig: Callable, name: str, on_call: Callable | None = None) -> None:
        """Replace ``orig`` wherever a loaded module under
        ``module_prefix`` binds it by name (``from x import f`` copies)."""
        wrapper = self.wrapped(name, orig, on_call)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == module_prefix or mod_name.startswith(module_prefix + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapper)
                    self._undo.append(lambda m=mod, a=attr: setattr(m, a, orig))

    def wrap_method(self, cls: type, method: str, name: str, on_call: Callable | None = None) -> None:
        orig = getattr(cls, method)
        setattr(cls, method, self.wrapped(name, orig, on_call))
        self._undo.append(lambda: setattr(cls, method, orig))

    def unwrap(self) -> None:
        while self._undo:
            self._undo.pop()()

    def closed(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.closed(name))

    def self_time(self, name: str) -> float:
        """Summed duration of ``name`` spans minus what their direct
        children cover (children of one span never overlap: they run on
        the span's own thread)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        return sum(s["end"] - s["start"] - child_time.get(s["id"], 0.0) for s in self.closed(name))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- Spark's own records ---------------------------------------------------


def group_jobs(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under one job group."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    for job_id in st.getJobIdsForGroup(group):
        info = st.getJobInfo(job_id)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            stage = st.getStageInfo(sid)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    n = execs.size()
    return max((execs.apply(i).executionId() for i in range(n)), default=-1)


def _size_bytes(text: str) -> float:
    units = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
    num, unit = text.strip().split()
    return float(num.replace(",", "")) * units[unit]


def sql_metrics(spark, after_id: int) -> dict[str, float]:
    """Bytes read, shuffle bytes written, spill, and the worst per-task
    skew (max/median task value of any size metric of an operator) over
    the SQL executions with id > ``after_id``. Read from the SQL status
    store, which Spark keeps with the UI disabled."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = {"bytes_read": 0.0, "shuffle_write_bytes": 0.0, "spill_bytes": 0.0, "max_task_skew_ratio": 1.0}
    for i in range(execs.size()):
        ex = execs.apply(i)
        if ex.executionId() <= after_id:
            continue
        values = store.executionMetrics(ex.executionId())
        metrics = ex.metrics()
        seen: set[int] = set()  # adaptive re-plans list a metric again
        for j in range(metrics.size()):
            m = metrics.apply(j)
            if m.accumulatorId() in seen:
                continue
            seen.add(m.accumulatorId())
            opt = values.get(m.accumulatorId())
            if not opt.isDefined():
                continue
            text = opt.get()
            name, kind = m.name(), m.metricType()
            if kind != "size":
                continue
            lines = text.split("\n")
            total = _size_bytes(lines[-1].split("(")[0]) if len(lines) > 1 else _size_bytes(text)
            if name == "size of files read":
                out["bytes_read"] += total
            elif name == "shuffle bytes written":
                out["shuffle_write_bytes"] += total
            elif name == "spill size":
                out["spill_bytes"] += total
            if len(lines) > 1 and "(" in lines[-1]:
                # "total (min, med, max (stageId: taskId))"
                inner = lines[-1].split("(", 1)[1].split(",")
                med, mx = _size_bytes(inner[1]), _size_bytes(inner[2].split("(")[0])
                if med > 0:
                    out["max_task_skew_ratio"] = max(out["max_task_skew_ratio"], mx / med)
    return out


# -- results ---------------------------------------------------------------


def write_record(record: dict) -> str:
    path = os.path.join(
        WORK, "runs", f"{record['workload']}-seed{record['seed']}-trace{record['trace']}.json"
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    return path
