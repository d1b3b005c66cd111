"""Measurement plumbing shared by the workloads: the Spark session, spans
around calls into the engine's layers, Spark counters per span from the
event log, and a peak-RSS sampler over the whole process tree."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict

MASTER = "local[4]"
SHUFFLE_PARTITIONS = 8


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                text = f.read()
        except OSError:  # the process ended while we listed it
            continue
        fields = text[text.rfind(")") + 2:].split()
        children[int(fields[1])].append(int(stat.split("/")[2]))
    return children


def descendants(pid: int | None = None) -> list[int]:
    """Every live descendant of ``pid`` (default: this process)."""
    children, out = _children_map(), []
    todo = list(children.get(pid or os.getpid(), ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until none of ``pids`` runs any more."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    raise RuntimeError(f"processes still running after {timeout_s} s: {alive}")


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:
        return True
    return text[text.rfind(")") + 2:].split()[0] == "Z"


def cpu_times() -> list[int]:
    """System-wide jiffies: user, nice, system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_share(before: list[int], after: list[int]) -> dict[str, float]:
    d = [b - a for a, b in zip(before, after)]
    total = max(sum(d), 1)
    return {"busy": (d[0] + d[1] + d[2] + d[5] + d[6]) / total, "iowait": d[4] / total, "steal": d[7] / total}


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this process
    and every live descendant."""
    total = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                text = f.read()
        except OSError:
            continue
        fields = text[text.rfind(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak of the summed resident set size of this process and every
    descendant (the JVM and its Python workers), read from ``/proc``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def tree_rss_bytes(self) -> int:
        total = 0
        for pid in [os.getpid(), *descendants()]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.tree_rss_bytes())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_bytes = max(self.peak_bytes, self.tree_rss_bytes())


class Tracer:
    """Spans around the benchmark's calls into each layer.

    Every span is timed, since the workloads report per-step medians from
    them. With ``traced`` on, each span also becomes the Spark job group of
    the jobs it launches, so the event log attributes Spark counters to it;
    spans are kept in memory and written out by :meth:`dump`."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op_id: int | None = None
        self.sc = None

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op_id,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.traced and self.sc is not None:
            self.sc.setJobGroup(f"span-{rec['id']}", name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.traced and self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(f"span-{parent['id']}", parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def op_span(self):
        """The span of one timed operation, with the process tree's CPU
        seconds over it in ``cpu_s``."""
        cpu0 = tree_cpu_s()
        with self.span("op") as rec:
            yield rec
        rec["cpu_s"] = tree_cpu_s() - cpu0

    def durations(self, name: str, timed_only: bool = True) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and "end" in s and (s["op"] is not None or not timed_only)
        ]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans if "end" in s}

    def dump(self, path: str, counters: dict[str, dict]) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                if "end" not in s:
                    continue
                rec = dict(s, self_s=selfs[s["id"]], spark=counters.get(f"span-{s['id']}", {}))
                f.write(json.dumps(rec) + "\n")


COUNTERS = ("spark_jobs", "tasks", "executor_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "task_retries")


def spark_counters(eventlog_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, executor CPU, GC, shuffle write, spill
    and task retries, summed from the event log's job and task events."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    for path in glob.glob(os.path.join(eventlog_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                    out[group]["spark_jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    c = out[stage_group.get(ev.get("Stage ID"), "none")]
                    info = ev.get("Task Info") or {}
                    c["tasks"] += 1
                    if info.get("Attempt", 0) > 0 or info.get("Failed"):
                        c["task_retries"] += 1
                    m = ev.get("Task Metrics") or {}
                    c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    c["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6
    return dict(out)


def start_session(workdir: str, traced: bool):
    """A fresh ``local[4]`` session whose scratch space all lives under
    ``workdir``. Returns (spark, seconds taken)."""
    from rasusa_spark.session import get_spark

    local = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # the JVM and its Python workers inherit these; the environment wins
    # over spark.local.dir, so both are pinned
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.eventLog.enabled": "false",
    }
    if traced:
        evdir = os.path.join(workdir, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": evdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, time.perf_counter() - t0
