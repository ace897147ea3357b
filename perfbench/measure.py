"""Measurement helpers for the pipeline benchmark: percentiles, a process-tree
memory sampler, in-memory trace spans, and readers for Spark's status stores.

Everything here observes the program from outside: spans wrap calls into its
public functions, and the Spark counters are read after the fact from the
application status store (per job group) and the SQL status store (per
executed plan node).
"""

from __future__ import annotations

import json
import math
import os
import re
import threading
import time
from contextlib import contextmanager, nullcontext

MB = 1024 * 1024


def percentile(values: "list[float]", q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0-100), numpy's default rule."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the ``q``-th percentile."""
    return n - 1 - math.floor((n - 1) * q / 100.0)


def tail_percentile(n: int, ladder=(99.9, 99, 90, 75, 50)) -> "float | None":
    """The highest percentile of ``ladder`` with at least ten of ``n``
    samples beyond it, or None when even the median has fewer."""
    for q in ladder:
        if samples_beyond(n, q) >= 10:
            return q
    return None


class RssSampler:
    """Peak resident memory of a process tree: the benchmark's Python
    process, the JVM it launches and the Python workers the JVM forks. Samples the
    summed proportional set size (PSS) of ``root_pid`` and its descendants
    from ``/proc``: forked workers share most pages with their parent, and
    PSS counts each shared page once across the tree where RSS would count
    it once per process.

    The JVM is the exception: it forks nothing, so its RSS and PSS differ
    only by its share of a few shared libraries, and its RSS is read from
    the kernel's counters in ``status``. Its PSS would need a walk of the
    page tables of a multi-GB heap, 20-40 ms per read on a 4-core host, with
    the JVM's mmap lock held, which stalls the measured jobs.

    Processes younger than one interval are left out: a child the JVM
    spawns (a shell command of Hadoop's local file system, say) shares the
    JVM's memory until it execs, and a sample that caught one would count
    the JVM twice. ``peak_by_process`` holds the peak sample's MB per
    command name."""

    def __init__(self, root_pid: int, interval_s: float = 0.5):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_by_process: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def stop(self) -> None:
        """Take a last sample and stop; ``peak_bytes`` is final from here."""
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        parent: dict[int, int] = {}
        comm: dict[int, str] = {}
        young: set[int] = set()
        with open("/proc/uptime") as f:
            # process start times are in clock ticks since boot
            born_after = (float(f.read().split()[0]) - self.interval_s) * os.sysconf("SC_CLK_TCK")
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # the command name may hold spaces; fields resume after ')'
            head, tail = stat.rsplit(")", 1)
            fields = tail.split()
            parent[int(name)] = int(fields[1])
            comm[int(name)] = head.split("(", 1)[1]
            if int(fields[19]) > born_after and int(name) != self.root_pid:
                young.add(int(name))
        tree, frontier = {self.root_pid}, [self.root_pid]
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        while frontier:
            for child in children.get(frontier.pop(), []):
                if child not in tree:
                    tree.add(child)
                    frontier.append(child)
        total = 0
        by_process: dict[str, float] = {}
        for pid in tree - young:
            path, field = (
                (f"/proc/{pid}/status", "VmRSS:")
                if comm.get(pid) == "java"
                else (f"/proc/{pid}/smaps_rollup", "Pss:")
            )
            try:
                with open(path) as f:
                    for line in f:
                        if line.startswith(field):
                            kb = int(line.split()[1])
                            total += kb * 1024
                            name = comm.get(pid, "?")
                            by_process[name] = by_process.get(name, 0.0) + kb / 1024
                            break
            except OSError:
                continue
        if total > self.peak_bytes:
            self.peak_bytes, self.peak_by_process = total, by_process


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out once
    at the end. While ``enabled`` is False, :meth:`span` records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return self._span(name, attrs) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str, attrs: dict):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total_s(self, name: str, groups: "list[str] | None" = None) -> float:
        """Summed duration of the spans called ``name``, optionally only
        those recorded during one of ``groups`` (passes)."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (groups is None or s.get("group") in groups)
        )

    def write(self, path: str, **records) -> None:
        """Write the spans, and any other ``records`` of the run, as JSON."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, **records}, f)


class StatusReader:
    """Bulk reads of Spark's status stores through one JSON serialisation per
    call, instead of one py4j round trip per field."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._sc = sc
        jvm = sc._jvm
        scala_module = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$"
        )
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_module)
        self._store = sc._jsc.sc().statusStore()
        self._jvm = jvm

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stages(self) -> list[dict]:
        empty = self._jvm.java.util.ArrayList()
        no_quantiles = self._sc._gateway.new_array(self._jvm.double, 0)
        return self._json(self._store.stageList(empty, False, False, no_quantiles, empty))

    def task_run_quantiles(self, stage_id: int, attempt: int) -> "tuple[float, float] | None":
        """(median, max) task executor run time of one stage attempt, in s."""
        qs = self._sc._gateway.new_array(self._jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summary = self._store.taskSummary(stage_id, attempt, qs)
        if summary.isEmpty():
            return None
        run = self._json(summary.get())["executorRunTime"]
        return run[0] / 1000.0, run[1] / 1000.0

    def plan_node_metrics(self, job_ids: "set[int]") -> dict:
        """Summed SQL metrics of two kinds of executed-plan node, over every
        SQL execution that ran at least one of ``job_ids``: Python/Arrow
        worker nodes (``python_*``) and parquet scans (``scan_*``)."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        out = {key: 0.0 for table in _NODE_METRICS.values() for key in table.values()}
        for i in range(execs.size()):
            ex = execs.apply(i)
            if not job_ids & {int(j) for j in self._json(ex.jobs())}:
                continue
            eid = ex.executionId()
            values = self._json(sql.executionMetrics(eid))
            # allNodes lists the nodes inside codegen clusters as well as
            # the clusters, whose names match neither kind
            for node in self._json(sql.planGraph(eid).allNodes()):
                kind = next(
                    (k for k in _NODE_METRICS if k.search(node.get("name", ""))), None
                )
                if kind is None:
                    continue
                for m in node.get("metrics", []):
                    v = values.get(str(m["accumulatorId"]))
                    key = _NODE_METRICS[kind].get(m["name"])
                    if key and v is not None:
                        out[key] += parse_metric(v)
        return out


_NODE_METRICS = {
    re.compile(r"Python|Pandas|Arrow"): {
        "data sent to Python workers": "python_sent_bytes",
        "data returned from Python workers": "python_recv_bytes",
        "number of output rows": "python_rows",
    },
    re.compile(r"^Scan parquet"): {
        "size of files read": "scan_bytes",
        "number of output rows": "scan_rows",
    },
}
_UNITS = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": 1024 * MB, "TiB": 1024 * 1024 * MB}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``"653"``, ``"1,204"`` or the
    ``"total (min, med, max …)\\n112.2 KiB (…)"`` form of size metrics."""
    head = text.split("\n")[-1].split("(")[0].strip().replace(",", "")
    parts = head.split()
    value = float(parts[0])
    return value * _UNITS[parts[1]] if len(parts) > 1 and parts[1] in _UNITS else value
