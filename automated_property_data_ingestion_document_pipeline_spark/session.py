"""SparkSession construction and runtime tuning.

Scale posture (100 TB design, local[32] test): everything here is
runtime-settable so the same tuning applies whether *we* build the session
(tests, bench) or the driver hands us one (``__spark_entry__``).

- Arrow on: every pandas/mapInPandas exchange is columnar-batched.
- AQE on: runtime shuffle-partition coalescing + skew-join splitting +
  dynamic broadcast conversion — the knobs that survive a 1000× scale-up
  without re-tuning.
- ``spark.sql.shuffle.partitions`` scales with the INPUT (r10, finding
  93 rule 2): the registry passes each corpus' on-disk bytes into
  :func:`tune`, which derives one partition per 8 MiB of parquet with a
  one-task-wave floor — small corpora keep 8-32 (no 200 empty-task
  launches), the sf10 study corpus derives its empirically-required
  ~256, and AQE coalesces the small keys back down. Host- or
  caller-pinned values are never overridden.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (naive parquet timestamps) byte-for-byte.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Gitignored scratch root of this checkout: the warehouse, lane outputs
# and stream staging dirs all live under it, never in the repo root.
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")


def scratch_dir(sf_dir: str, name: str) -> str:
    """``SCRATCH/<name>_<corpus dir basename>``: one output dir per lane and corpus."""
    return os.path.join(SCRATCH, f"{name}_{os.path.basename(os.path.normpath(sf_dir))}")

# Runtime-settable confs applied to any session we touch.
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # r11 (finding 95 follow-through): AQE coalescing stays at SPARK
    # DEFAULTS — both attempted overrides were measured and REFUTED
    # the same day (PERFORMANCE.md finding 106). parallelismFirst=
    # false + advisory 64 MiB re-fattens the sort partitions the
    # input-derived count keeps small (minhash 526 -> 1185 s, 354 GB
    # spill at sf10); raising minPartitionSize 1 -> 8 MiB then
    # destroyed post-shuffle parallelism at bench scale (a 20 MB
    # shuffle coalesces to ~3 tasks instead of 32 — q_topk 10.7x,
    # whole bench ~2-4x). The finding-95 fragmentation cost is map-
    # output compression, written before coalescing can see it: not
    # an AQE-recoverable cost, and the defaults are already right.
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # r11: expose bucket-sort ordering from bucketed table scans so a
    # merge join against a bucket-sorted table (one file per bucket —
    # operators/bucketing.ensure_bucketed's builder contract) streams
    # the table with NO read-side Sort. Spark 4 gates this behind a
    # legacy flag because the files-per-bucket check lists files at
    # planning; our scans list files anyway, and ordering is only
    # claimed when each bucket is a single file, so it is always safe.
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS) which Spark's reader rejects;
    # read as long and convert in catalog.load (truncated to micros, the
    # same precision DuckDB exposes).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Dims in this domain are tiny (SURVEY §2.4: all joins broadcastable).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


# finding 93 rule 2, enforced as code (r10 verdict ask #2): shuffle
# partitions SCALE WITH THE INPUT — a fixed 32 is a local[32] setting,
# not a constant. One shuffle partition per this many bytes of on-disk
# parquet. Parquet is column-compressed and the heavy lanes EXPLODE
# (shingles, tokens, deletion variants), so shuffle/agg state inflates
# ~20-50x over input bytes (finding 93: 33 GB of agg state from 1.7 GB
# of input at 32 partitions ≈ 1 GB/task); 8 MiB of input per partition
# keeps worst-case per-task state in the low hundreds of MB — inside
# any sane executor heap — and reproduces the sf10 study's empirically
# required 256 partitions from its 1.7 GB corpus. AQE coalesces the
# small keys back down, so over-partitioning costs nothing at runtime.
_INPUT_BYTES_PER_SHUFFLE_PARTITION = 8 * 1024 * 1024
_MAX_DERIVED_SHUFFLE_PARTITIONS = 32_768
# Marker conf: remembers the value WE derived so a later tune() call
# (each registered query re-tunes) can re-derive for a different-sized
# input, while a host/user-pinned value is never overridden.
_SHUFFLE_MARKER = "spark.graft.derivedShufflePartitions"


def derived_shuffle_partitions(input_bytes: int | None, floor: int) -> int:
    """Partition count for a corpus of ``input_bytes`` on-disk parquet:
    one task wave (``floor``) minimum, +1 partition per 8 MiB of input,
    capped. Pure so tests can pin the curve."""
    n = floor
    if input_bytes:
        n = max(n, -(-int(input_bytes) // _INPUT_BYTES_PER_SHUFFLE_PARTITION))
    return min(n, _MAX_DERIVED_SHUFFLE_PARTITIONS)


def tune(
    spark: SparkSession,
    shuffle_partitions: int | None = None,
    input_bytes: int | None = None,
) -> SparkSession:
    """Apply runtime tuning to an existing session (idempotent).

    Called at the top of ``entry()`` and every registered query so the
    driver-provided session gets the same deterministic timezone/AQE/Arrow
    posture as our own. ``input_bytes`` (the registry passes the corpus'
    on-disk size) scales ``spark.sql.shuffle.partitions`` with the data
    per :func:`derived_shuffle_partitions`; a host-pinned value — one
    that is neither Spark's 200 default nor something this function
    previously derived — is never overridden.
    """
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked by the host — keep going, nothing below is load-bearing
    if shuffle_partitions is None:
        current = spark.conf.get("spark.sql.shuffle.partitions", "200")
        ours = spark.conf.get(_SHUFFLE_MARKER, None)
        if current == "200" or current == ours:
            # Host session at the Spark default (or at our own previous
            # derivation): size for one local task wave, scaled up by
            # input size (AQE coalesces below this; streaming state ops
            # can't use AQE and would otherwise run 200 tiny stateful
            # tasks).
            floor = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
            shuffle_partitions = derived_shuffle_partitions(input_bytes, floor)
            spark.conf.set(_SHUFFLE_MARKER, str(shuffle_partitions))
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark


def get_spark(
    app_name: str = "apdidp-spark",
    shuffle_partitions: int | None = None,
    master: str | None = None,
    extra_conf: "dict[str, str] | None" = None,
) -> SparkSession:
    """Build (or reuse) a local session sized from the driver env contract.

    ``SPARK_GRAFT_CPUS`` (default 32) sets local parallelism; shuffle
    partitions default to the same so a local shuffle is one wave of tasks.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    # A caller-passed value is PINNED (tests pin 8 for stable plan
    # shapes); the cpus default is ours — marked below so per-query
    # tune(input_bytes=...) may re-derive it per corpus (finding 93
    # rule 2: partitions scale with data, 32 is a local[32] setting).
    caller_pinned = shuffle_partitions is not None
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    # static conf (must be set at build time): bucketed saveAsTable
    # warehouse lives in gitignored scratch, not the repo root
    warehouse = os.path.join(SCRATCH, "warehouse")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # keep the AppStatusStore complete for long benchmark sessions:
        # the default 1000-stage retention EVICTS old stages mid-run, so
        # whole-app shuffle snapshots (bench.shuffle_snapshot) go
        # NON-MONOTONIC and a stage-heavy iterative key late in the run
        # records a negative exchanges_exec/shuffle_write_mb delta
        # (finding 80: q_pagerank_portable at headline position 72,
        # ~2000 app stages). Static conf, bookkeeping-only.
        .config("spark.ui.retainedStages", "20000")
        .config("spark.ui.retainedJobs", "20000")
        .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
        .config("spark.sql.warehouse.dir", warehouse)
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate() silently drops builder confs when it REUSES a live
    # session — re-apply extra_conf through the runtime conf so dynamic
    # settings still land; static ones (e.g. showConsoleProgress, read
    # once at SparkContext start) raise and are skipped, which callers
    # that truly require them must treat as "only effective on the
    # session this call creates" (bench.py creates its own process, so
    # its tail-budget flag always lands at build time).
    for k, v in (extra_conf or {}).items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            # Only a static conf on a reused session is an expected,
            # documented skip; anything else (bad value for a modifiable
            # conf, etc.) must not vanish silently.
            if "cannot modify" in str(exc).lower() or "CANNOT_MODIFY" in str(exc):
                continue
            import logging

            logging.getLogger(__name__).warning(
                "extra_conf %r=%r not applied to reused session: %s", k, v, exc
            )
    if not caller_pinned:
        spark.conf.set(_SHUFFLE_MARKER, str(shuffle_partitions))
    return tune(spark, shuffle_partitions)
