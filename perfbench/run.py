"""Pipeline benchmark: one workload per fresh process on ``local[<cores>]``.

Usage, from the repository root::

    python3 perfbench/run.py --workload ingest_render --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all            # every workload, one table

A run generates its inputs from ``--seed`` (``perfbench/corpus.py``) into a
private work directory, reads them once so the file cache starts alike,
starts a Spark session on a fresh warehouse and fresh local dirs, and then:

1. set-up (timed as ``setup_s``): session start, the cold first pass over
   the workload's job list, which builds the persisted ``ensure_*`` bases,
   and one settle pass, since the JIT is still warming after the first;
2. warm passes over the job list, at least the workload's ``MIN_PASSES``,
   until ``--seconds`` have passed; a job is one key, its plan build plus a
   noop-sink materialise;
3. correctness: the last warm pass's output of every oracle-backed key is
   compared with its DuckDB oracle on the generated corpus, and every
   rows-only key must return rows. Exceptions, wrong results and Spark task
   failures count as failed operations.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced warm passes, records spans around the calls into each
layer, reads Spark's status stores per job group, and prints the per-layer
metrics. Spans and metrics are written to
``perfbench/out/``. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "automated_property_data_ingestion_document_pipeline_spark"
CORPUS_NAME = "perfbench_corpus"

# Two workloads, trimmed from the three job families (ingest/render,
# curation, analytics) this benchmark was planned with. The benchmark is
# sized for 4 + 22 x (workloads) runs within one hour, and a run must hold a
# settle pass and at least three warm passes to be steady on 4 shared
# cores; three workloads did not fit. Every layer is still stressed by one
# workload and left idle by the other.
WORKLOADS = {
    # The reference pipeline: JSON ingest over a parquet scan, letters
    # rendered by Python workers, written and read back, and one
    # availableNow stream. Shuffles almost nothing, builds no bases.
    "ingest_render": [
        "q_json_ingest",
        "q_letter_roundtrip",
        "q_stream_quarantine",
    ],
    # Curation and analytics: a salted embedding pair stage, the bucketed
    # anchor base that set-up writes and every pass reads, PageRank's many
    # small eager jobs and a geo radius join. No Python workers.
    "curation_analytics": [
        "q_semantic_dedup",
        "q_decontaminate_longmatch",
        "q_pagerank_portable",
        "q_geo_radius_join",
    ],
}

# Warm passes per run, set so that they outlast the 10 s ``run_seconds`` of
# BENCHMARK.json and the pass count stays the same from run to run: the
# pooled job percentiles pick different order statistics when it changes.
# On 4 shared cores a warm pass of ingest_render takes 3.0-4.0 s, one of
# curation_analytics 6.0-8.6 s. ingest_render's job_s.p50 is the median of
# its stream job, which varies by 12 % from pass to pass and is still
# speeding up over the first two warm passes, so it gets six.
MIN_PASSES = {"ingest_render": 6, "curation_analytics": 3}

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "job_s.p50": "s",
    "job_s.p90": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "bucketing.build_s": "s",
    "bucketing.tables": "count",
    "plans.build_s": "s",
    "plans.eager_jobs": "count",
    "catalog.scan_mb": "MB",
    "catalog.scan_rows": "count",
    "spark.execute_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s.p50": "s",
    "spark.task_skew": "ratio",
    "spark.run_s": "s",
    "spark.cpu_s": "s",
    "spark.cpu_share": "ratio",
    "spark.gc_s": "s",
    "spark.task_failures": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_wait_s": "s",
    "spark.spill_mb": "MB",
    "python.sent_mb": "MB",
    "python.recv_mb": "MB",
    "python.rows": "count",
    "sources.pdf_render_ms": "ms",
    "sources.pdf_extract_ms": "ms",
    "sources.docx_render_ms": "ms",
    "sources.docx_extract_ms": "ms",
    "streaming.batches": "count",
    "streaming.batch_s.p50": "s",
    "streaming.rows": "count",
    "trace.overhead_pct": "%",
}

HEAP = "2g"
ENSURE_FUNCS = ("ensure_portable_base", "ensure_token_base", "ensure_anchor_base")


class ProgramMissing(RuntimeError):
    """The checkout holds no program to measure."""


def _work_dirs() -> dict[str, str]:
    work = os.path.join(HERE, ".work")
    shutil.rmtree(work, ignore_errors=True)
    dirs = {name: os.path.join(work, name) for name in (CORPUS_NAME, "warehouse", "local", "tmp")}
    for d in dirs.values():
        os.makedirs(d)
    dirs["work"] = work
    return dirs


def _clear_program_scratch() -> None:
    """Remove what earlier runs left in the program's own scratch dir for this
    corpus (letters, quarantine tables, stream sources), so every run starts
    from the same state."""
    for path in glob.glob(os.path.join(ROOT, ".scratch", f"*{CORPUS_NAME}*")):
        shutil.rmtree(path, ignore_errors=True)


def _prepare_env(dirs: dict[str, str]) -> None:
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # fixed, not taken from the host, so runs on any host are comparable
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    # Python workers start from the JVM's working directory; the package
    # must import from there too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _cpu_ticks() -> dict[str, int]:
    """Host-wide CPU ticks by state, from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return dict(zip(names, fields))


def _stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for it: it exits when its
    stdin closes, and it takes its Python worker daemon with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _read_inputs_once(data_dir: str) -> None:
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        with open(path, "rb") as f:
            while f.read(1 << 20):
                pass


class Bench:
    def __init__(self, workload: str, data_dir: str, dirs: dict, tracer):
        self.workload = workload
        self.keys = WORKLOADS[workload]
        self.data = data_dir
        self.dirs = dirs
        self.tracer = tracer
        self.failures: list[str] = []
        self.attempted = 0
        self.group = ""
        self.frames: dict = {}  # the last pass's DataFrame per key
        self.tables_built: dict[str, int] = {}  # per pass, counted in traced runs

    # -- set-up -----------------------------------------------------------
    def start_session(self) -> None:
        with self.tracer.span("session.start"):
            try:
                from automated_property_data_ingestion_document_pipeline_spark import catalog
                from automated_property_data_ingestion_document_pipeline_spark.plans import (
                    ORACLES,
                    QUERIES,
                )
                from automated_property_data_ingestion_document_pipeline_spark.session import (
                    get_spark,
                )
            except ImportError as exc:
                raise ProgramMissing(f"cannot import the program: {exc}") from exc
            self.catalog, self.QUERIES, self.ORACLES = catalog, QUERIES, ORACLES
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                extra_conf={
                    "spark.sql.warehouse.dir": self.dirs["warehouse"],
                    "spark.ui.showConsoleProgress": "false",
                    # a fixed-size heap, so peak RSS does not depend on when
                    # the collector chooses to grow it
                    "spark.driver.extraJavaOptions": (
                        f"-Xms{HEAP} "
                        f"-Djava.io.tmpdir={self.dirs['tmp']}"
                    ),
                },
            )
        self.spark.sparkContext.setLogLevel("ERROR")

    def trace_bases(self) -> None:
        """Wrap every module-level binding of the ``ensure_*`` base builders
        in a span, so base builds are timed wherever a query calls them."""
        import importlib
        import pkgutil

        plans = importlib.import_module(f"{PKG}.plans")
        for info in pkgutil.iter_modules(plans.__path__):
            mod = importlib.import_module(f"{PKG}.plans.{info.name}")
            for name in ENSURE_FUNCS:
                fn = getattr(mod, name, None)
                if callable(fn) and not getattr(fn, "_perfbench", False):
                    setattr(mod, name, self._traced_base(name, fn))
        from automated_property_data_ingestion_document_pipeline_spark.operators import bucketing

        build = bucketing.ensure_bucketed

        def ensure_bucketed(*args, **kwargs):
            built = build(*args, **kwargs)
            if built:
                self.tables_built[self.group] = self.tables_built.get(self.group, 0) + 1
            return built

        bucketing.ensure_bucketed = ensure_bucketed

    def _traced_base(self, name, fn):
        def wrapper(*args, **kwargs):
            with self.tracer.span("bucketing.ensure", fn=name, group=self.group):
                return fn(*args, **kwargs)

        wrapper._perfbench = True
        return wrapper

    # -- passes -----------------------------------------------------------
    def run_job(self, key: str, group: str) -> "float | None":
        """Build and materialise one key; its wall time, or None on failure."""
        sc = self.spark.sparkContext
        self.attempted += 1
        self.frames.pop(key, None)
        t0 = time.perf_counter()
        try:
            sc.setJobGroup(f"{group}|build|{key}", key)
            with self.tracer.span("plans.build", key=key, group=group):
                df = self.QUERIES[key](self.spark, self.data)
            self.frames[key] = df
            sc.setJobGroup(f"{group}|exec|{key}", key)
            with self.tracer.span("spark.execute", key=key, group=group):
                df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # a failed job is counted, the run goes on
            self.failures.append(f"{key}: {type(exc).__name__}: {exc}".splitlines()[0])
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            sc.setJobGroup("perfbench|other", "")
        return time.perf_counter() - t0

    def run_pass(self, group: str) -> "tuple[float, list[float]]":
        self.group = group
        t0 = time.perf_counter()
        with self.tracer.span("pass", group=group):
            times = [self.run_job(key, group) for key in self.keys]
        return time.perf_counter() - t0, [t for t in times if t is not None]

    # -- correctness ------------------------------------------------------
    def check_outputs(self) -> None:
        """Compare every oracle-backed key with DuckDB; rows-only keys must
        return rows."""
        import importlib.util

        import duckdb

        # the parity test's normalisation, loaded by path: the tests
        # directory is not a package
        spec = importlib.util.spec_from_file_location(
            "oracle_parity", os.path.join(ROOT, "tests", "test_oracle_parity.py")
        )
        parity = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(parity)
        normalize = parity.normalize
        con = duckdb.connect()
        for t in parity.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')"
            )
        for key in self.keys:
            self.attempted += 1
            try:
                # the last warm pass's frame: its plan, and any eager work
                # done while building it, are what was measured
                sdf = self.frames[key].toPandas()
                if key in self.ORACLES:
                    odf = con.execute(self.ORACLES[key]).fetchdf()
                    if sorted(sdf.columns) != sorted(odf.columns) or len(sdf) != len(odf):
                        raise AssertionError(
                            f"shape spark={sorted(sdf.columns)}x{len(sdf)} "
                            f"oracle={sorted(odf.columns)}x{len(odf)}"
                        )
                    # value comparison, insensitive to dtypes, which differ
                    # between empty frames from Spark and from DuckDB
                    if normalize(sdf).values.tolist() != normalize(odf).values.tolist():
                        raise AssertionError("values differ from the DuckDB oracle")
                elif len(sdf) == 0:
                    raise AssertionError("rows-only key returned no rows")
            except Exception as exc:
                self.failures.append(f"check {key}: {type(exc).__name__}: {exc}".splitlines()[0])
        con.close()


def _sources_timings(tracer, reps: int = 15) -> dict[str, float]:
    """Median ms of direct calls into the document sinks on a fixed letter,
    one span per call."""
    from automated_property_data_ingestion_document_pipeline_spark.sources import (
        doc_sink,
        pdf_sink,
    )

    lines = [
        "Engagement Letter",
        "Dear Client,",
        *(
            f"Item {i}: appraisal of parcel {1000 + i} in county {i % 7}, "
            f"fee $1,{i:03d}.50 due on signing."
            for i in range(40)
        ),
        "Sincerely, The Appraisal Firm",
    ]
    pdf, docx = pdf_sink.pdf_bytes_from_lines(lines), doc_sink.docx_bytes_from_lines(lines)
    if pdf_sink.extract_pdf_text(pdf) != lines or doc_sink.extract_docx_text(docx) != lines:
        raise AssertionError("document sink round trip lost text")
    calls = {
        "sources.pdf_render_ms": lambda: pdf_sink.pdf_bytes_from_lines(lines),
        "sources.pdf_extract_ms": lambda: pdf_sink.extract_pdf_text(pdf),
        "sources.docx_render_ms": lambda: doc_sink.docx_bytes_from_lines(lines),
        "sources.docx_extract_ms": lambda: doc_sink.extract_docx_text(docx),
    }
    out = {}
    for name, call in calls.items():
        for _ in range(reps):
            with tracer.span(name, group="sources"):
                call()
        out[name] = statistics.median(
            (s["end"] - s["start"]) * 1000.0 for s in tracer.spans if s["name"] == name
        )
    return out


def _layer_metrics(bench: Bench, reader, traced_groups: "list[str]", stream_probe):
    """Per-layer metrics averaged per traced warm pass, and other per-pass
    counts that are written only to the trace file."""
    from measure import MB

    n = len(traced_groups)
    jobs = reader.jobs()
    stages = {(s["stageId"], s["attemptId"]): s for s in reader.stages()}

    def group_of(job):
        g = job.get("jobGroup") or ""
        if g in stream_probe.runs:
            # a stream's micro-batches run inside the QUERIES[key] call of
            # an availableNow lane: eager jobs of its plan build
            return stream_probe.runs[g], "build"
        parts = g.split("|")
        return (parts[0], parts[1]) if len(parts) == 3 else (None, None)

    build_jobs = [j for j in jobs if group_of(j)[0] in traced_groups and group_of(j)[1] == "build"]
    exec_jobs = [j for j in jobs if group_of(j)[0] in traced_groups and group_of(j)[1] == "exec"]
    stream_jobs = [j for j in build_jobs if j.get("jobGroup") in stream_probe.runs]

    def job_stages(js):
        ids = {sid for j in js for sid in j["stageIds"]}
        return {
            k: s for k, s in stages.items() if k[0] in ids and s["status"] == "COMPLETE"
        }

    exec_stages = job_stages(exec_jobs)
    all_stages = {**job_stages(build_jobs), **exec_stages}
    tot = lambda field, ss: sum(s[field] for s in ss.values())  # noqa: E731
    m = {}
    m["plans.build_s"] = bench.tracer.total_s("plans.build", traced_groups) / n
    m["plans.eager_jobs"] = len(build_jobs) / n
    extras = {"stream_jobs": len(stream_jobs) / n}
    m["spark.execute_s"] = bench.tracer.total_s("spark.execute", traced_groups) / n
    m["spark.jobs"] = len(exec_jobs) / n
    m["spark.stages"] = len(exec_stages) / n
    m["spark.tasks"] = tot("numTasks", exec_stages) / n
    run_s = tot("executorRunTime", all_stages) / 1000.0
    cpu_s = tot("executorCpuTime", all_stages) / 1e9
    m["spark.run_s"] = run_s / n
    m["spark.cpu_s"] = cpu_s / n
    m["spark.cpu_share"] = cpu_s / run_s if run_s else 0.0
    m["spark.gc_s"] = tot("jvmGcTime", all_stages) / 1000.0 / n
    m["spark.task_failures"] = tot("numFailedTasks", all_stages) / n
    m["spark.shuffle_write_mb"] = tot("shuffleWriteBytes", all_stages) / MB / n
    m["spark.shuffle_read_mb"] = tot("shuffleReadBytes", all_stages) / MB / n
    m["spark.shuffle_wait_s"] = tot("shuffleFetchWaitTime", all_stages) / 1000.0 / n
    m["spark.spill_mb"] = tot("diskBytesSpilled", all_stages) / MB / n
    # task time: per-stage median and max; the p50 weights each stage's
    # median by its task count, the skew weights each stage's max/median
    # by the stage's share of executor time
    medians, skew_num, skew_den = [], 0.0, 0.0
    for (sid, att), s in exec_stages.items():
        q = reader.task_run_quantiles(sid, att)
        if q is None:
            continue
        med, mx = q
        medians.extend([med] * s["numTasks"])
        if med > 0 and s["numTasks"] > 1:
            w = s["executorRunTime"]
            skew_num += w * mx / med
            skew_den += w
    m["spark.task_s.p50"] = statistics.median(medians) if medians else 0.0
    m["spark.task_skew"] = skew_num / skew_den if skew_den else 1.0
    job_ids = {j["jobId"] for j in build_jobs + exec_jobs}
    nodes = reader.plan_node_metrics(job_ids)
    m["catalog.scan_mb"] = nodes["scan_bytes"] / MB / n
    m["catalog.scan_rows"] = nodes["scan_rows"] / n
    m["python.sent_mb"] = nodes["python_sent_bytes"] / MB / n
    m["python.recv_mb"] = nodes["python_recv_bytes"] / MB / n
    m["python.rows"] = nodes["python_rows"] / n
    batches = stream_probe.batches
    passes = stream_probe.passes or 1
    m["streaming.batches"] = len(batches) / passes
    m["streaming.batch_s.p50"] = (
        statistics.median(b["duration_s"] for b in batches) if batches else 0.0
    )
    m["streaming.rows"] = sum(b["rows"] for b in batches) / passes
    return m, extras


def _stream_probe(bench: Bench):
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProbe(StreamingQueryListener):
        """Records every micro-batch's progress while attached, and the pass
        each query started in: a query runs its micro-batch jobs under its
        own job group, its run id, not under the pass's."""

        def __init__(self):
            self.batches: list[dict] = []
            self.passes = 0
            self.runs: dict[str, str] = {}  # query run id -> pass group

        def onQueryStarted(self, event):
            # delivered before start() returns, so the pass is still current
            self.runs[str(event.runId)] = bench.group

        def onQueryProgress(self, event):
            p = event.progress
            self.batches.append({
                "batch": p.batchId,
                "rows": p.numInputRows,
                "duration_s": p.durationMs.get("triggerExecution", 0) / 1000.0,
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    probe = StreamProbe()
    bench.spark.streams.addListener(probe)
    return probe


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        raise ProgramMissing(f"no {PKG} package beside {HERE}")
    sys.path.insert(0, HERE)
    import corpus
    from measure import MB, RssSampler, StatusReader, Tracer, percentile, samples_beyond

    dirs = _work_dirs()
    data = dirs[CORPUS_NAME]
    manifest = corpus.write_corpus(data, seed)
    _clear_program_scratch()
    _prepare_env(dirs)
    _read_inputs_once(data)

    tracer = Tracer(run_id=f"{workload}-{seed}-{os.getpid()}", enabled=trace)
    bench = Bench(workload, data, dirs, tracer)
    phases = {}
    mark = time.perf_counter()

    def phase(name):
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    cpu0 = _cpu_ticks()
    with RssSampler(os.getpid()) as rss:
        t0 = time.perf_counter()
        bench.start_session()
        spark = bench.spark
        try:
            if trace:
                bench.trace_bases()
            bench.run_pass("cold")
            bench.run_pass("settle")
            setup_s = time.perf_counter() - t0
            phase("setup")

            probe = _stream_probe(bench) if trace else None
            pass_times = {"plain": [], "traced": []}
            job_times: list[float] = []
            traced_groups: list[str] = []
            t_measure = time.perf_counter()
            i = 0
            while True:
                # traced runs alternate plain and traced passes as ABBA, so
                # a drift over the run does not read as tracing overhead
                traced = trace and i % 4 in (1, 2)
                tracer.enabled = traced
                group = f"{'traced' if traced else 'plain'}{i}"
                wall, jobs = bench.run_pass(group)
                i += 1
                if traced:
                    traced_groups.append(group)
                    pass_times["traced"].append(wall)
                else:
                    pass_times["plain"].append(wall)
                    job_times.extend(jobs)
                min_passes = max(MIN_PASSES[workload], 4 if trace else 0)
                if time.perf_counter() - t_measure >= seconds and i >= min_passes:
                    break
            tracer.enabled = trace
            # the peak covers set-up and the warm passes only: the oracle
            # check below runs DuckDB and pandas in this process
            rss.stop()
            phase("measure")
            if probe is not None:
                time.sleep(1.0)  # listener events arrive asynchronously
                spark.streams.removeListener(probe)
                probe.passes = i
            bench.check_outputs()
            phase("check")
            reader = StatusReader(spark)
            task_failures = sum(s["numFailedTasks"] for s in reader.stages())
            if task_failures:
                print(f"# {task_failures} Spark task failures", file=sys.stderr)
            layers = extras = None
            if trace:
                layers, extras = _layer_metrics(bench, reader, traced_groups, probe)
                layers["session.start_s"] = tracer.total_s("session.start")
                layers["bucketing.build_s"] = tracer.total_s("bucketing.ensure", ["cold"])
                layers["bucketing.tables"] = bench.tables_built.get("cold", 0)
                layers.update(_sources_timings(tracer))
                plain = statistics.median(pass_times["plain"])
                layers["trace.overhead_pct"] = (
                    100.0 * (statistics.median(pass_times["traced"]) - plain) / plain
                )
                phase("trace_read")
        finally:
            spark.stop()
            _stop_jvm()
    phase("stop")
    cpu1 = _cpu_ticks()
    busy = {k: cpu1[k] - cpu0[k] for k in cpu0}

    failed = min(bench.attempted, len(bench.failures) + task_failures)
    result = {
        "workload": workload,
        "seed": seed,
        "manifest": manifest,
        "setup_s": setup_s,
        "pass_s": statistics.median(pass_times["plain"]),
        "passes": len(pass_times["plain"]),
        "pass_times": pass_times["plain"],
        "jobs": len(job_times),
        "job_s.p50": percentile(job_times, 50),
        "job_s.p90": percentile(job_times, 90),
        "job_s.p90_beyond": samples_beyond(len(job_times), 90),
        "peak_rss_mb": rss.peak_bytes / MB,
        "peak_rss_by_process": rss.peak_by_process,
        "attempted": bench.attempted,
        "failed": failed,
        "failures": bench.failures,
        "layers": layers,
        "phases": phases,
        "cpu": busy,
    }
    if trace:
        tracer.write(
            os.path.join(HERE, "out", f"trace-{workload}-{seed}.json"),
            layers=layers, counts=extras, phases=phases, pass_times=pass_times,
        )
    shutil.rmtree(dirs["work"], ignore_errors=True)
    _clear_program_scratch()
    return result


def _print_result(res: dict, trace: bool) -> None:
    from measure import tail_percentile

    fail_rate = res["failed"] / res["attempted"]
    tail = tail_percentile(res["jobs"])
    print(f"# workload {res['workload']} seed {res['seed']}: {res['passes']} warm passes, "
          f"{res['jobs']} jobs, {res['attempted']} operations")
    print(f"# job_s: {res['job_s.p90_beyond']} samples beyond p90; highest percentile "
          f"with at least 10 beyond: {'none' if tail is None else f'p{tail:g}'}")
    print("# warm passes (s): " + ", ".join(f"{p:.2f}" for p in res["pass_times"]))
    for name, t in res["manifest"]["tables"].items():
        print(f"# input {name}: {t['rows']} rows, {t['bytes']} bytes")
    print("# peak rss by process (MB): " + ", ".join(
        f"{name} {mb:.0f}" for name, mb in sorted(res["peak_rss_by_process"].items())))
    print("# phases " + ", ".join(f"{k} {v:.1f} s" for k, v in res["phases"].items()))
    cpu = res["cpu"]
    print(f"# host cpu over the run: {100 * cpu['steal'] / max(1, sum(cpu.values())):.1f} % stolen, "
          f"{100 * cpu['idle'] / max(1, sum(cpu.values())):.1f} % idle")
    for f in res["failures"]:
        print(f"# FAILED {f}")
    if trace:
        metrics = {k: {"value": res["layers"][k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": res[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(f"fail_rate {fail_rate:.6g} ratio")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))


def _run_all(args) -> int:
    """Run every workload in its own process and print one table."""
    rows = []
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed",
               str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        if out.returncode != 0:
            sys.stderr.write(out.stderr[-4000:])
            return out.returncode
        res = json.loads(out.stdout.strip().splitlines()[-1])
        res["fail_rate"] = res["failed"] / res["attempted"]
        rows.append((w, res))
    names = [*END_TO_END_UNITS, "fail_rate"]
    units = [*END_TO_END_UNITS.values(), "ratio"]
    width = max(len(w) for w in WORKLOADS) + 2
    print("workload".ljust(width) + "".join(f"{n} ({u})".rjust(18) for n, u in zip(names, units)))
    for w, res in rows:
        vals = [res["metrics"][n]["value"] for n in END_TO_END_UNITS] + [res["fail_rate"]]
        print(w.ljust(width) + "".join(f"{v:18.4f}" for v in vals))
    return 0 if all(r["correct"] for _, r in rows) else 1


def _run_seconds() -> float:
    """The run length ``BENCHMARK.json`` sets, the default of ``--seconds``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["run_seconds"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=_run_seconds())
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return _run_all(args)
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except ProgramMissing as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    _print_result(res, bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
