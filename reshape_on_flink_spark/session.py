"""Session facade — the engine's equivalent of Flink's TableEnvironment.

Reference parity: ``TableEnvironmentImpl.executeSql``
(flink-table/flink-table-api-java/.../TableEnvironmentImpl.java:723) and
``StreamExecutionEnvironment`` (flink-streaming-java/.../StreamExecutionEnvironment.java).
Here both collapse onto one SparkSession: `spark.sql` is the SQL entry,
DataFrames are the fluent entry, and Catalyst replaces the Blink planner.

Scale defaults (tuned for the 100 TB target, harmless at test SF):

- AQE on, with partition coalescing and skew-join splitting: this is the
  batch half of the reference's Reshape mechanism (SURVEY.md §0.5) — Spark
  re-plans skewed shuffle partitions at runtime instead of rerouting records.
- ``spark.sql.shuffle.partitions`` is a *starting* parallelism; AQE coalesces
  down and skew-splits up, so one number serves sf0.001 through 100 TB.
- Arrow enabled for every Python<->JVM hop (pandas UDFs, toPandas).
- Session timezone pinned to UTC so event-time semantics are absolute.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Engine configuration mirroring the reference's Reshape knobs
#: (README.md:15-23, ControllerSimulator.scala:19-51 of the reference).
#: Consumed by reshape_on_flink_spark.streaming.reshape.
RESHAPE_DEFAULTS = {
    "reshape.enabled": "false",
    "reshape.hiThreshold": "0.8",
    "reshape.loThreshold": "0.2",
    "reshape.freqMs": "10000",
    "reshape.firstPhaseNum": "6",
    "reshape.firstPhaseRatio": "0.9",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


#: Upper bound of the derived driver heap (the old fixed default).
DRIVER_MEM_CAP_MB = 48 * 1024


def _physical_mem_mb() -> int | None:
    """Physical RAM in MiB (``MemTotal`` of /proc/meminfo, else sysconf);
    None when neither is readable."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    try:
        return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    except (ValueError, OSError, AttributeError):
        return None


def default_driver_memory() -> str:
    """``spark.driver.memory`` default: half of physical RAM, capped at
    48g. In local mode the driver JVM is the whole engine and its heap
    grows toward ``-Xmx`` before collecting, so a heap sized above RAM
    gets the JVM OOM-killed instead of garbage-collected; the other
    half is left for off-heap buffers and the Python workers.
    ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    total = _physical_mem_mb()
    if total is None:
        return f"{DRIVER_MEM_CAP_MB // 1024}g"
    return f"{max(512, min(DRIVER_MEM_CAP_MB, total // 2))}m"


def get_spark(
    app_name: str = "reshape_on_flink_spark",
    *,
    cores: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    ``local[N]`` for tests; on a real cluster the same config block applies —
    nothing here is local-mode-specific except the master URL.
    ``extra_confs`` are applied at builder time (context-static settings
    like the shuffle codec need this; measurement sweeps use it).
    """
    cores = cores or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.default.parallelism", str(max(cores, 8)))
        # --- AQE: the batch skew layer (Reshape-equivalent) ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- joins: allow shuffled-hash where its size conditions fit
        # (guide §3.1/§9) — measured round 14 on the sf1 probe, 3-rep
        # min per variant, own session each: total 24.41 s vs 26.59 s
        # base (q5 1.71x, q10 1.27x, q_corpus_assembly 1.18x,
        # q_agg_distinct 1.15x, no query below 1.01x); the zstd shuffle
        # codec measured NULL on the same probe (26.41 s, mixed signs)
        # and stays default lz4. Explicit merge hints (bucketed-join
        # paths) still win over the preference. ---
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # --- deterministic cross-engine comparison ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- Python boundary is always Arrow ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # parquet pushdown is default-on; keep explicit so a future config
        # sweep can't silently disable the scan-level filters
        .config("spark.sql.parquet.filterPushdown", "true")
        # fixture `events.ts` is parquet TIMESTAMP(NANOS); Spark 4 has no ns
        # type, so read as int64 ns and normalize in load_tables()
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # fixture timestamps are parquet TIMESTAMP(isAdjustedToUTC=false);
        # Spark 4 would infer TIMESTAMP_NTZ, which unix_micros()/watermarks
        # reject — read them as TimestampType (UTC session ⇒ identical wall
        # clock to DuckDB's naive timestamps)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", default_driver_memory())
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cores}]")
    for k, v in RESHAPE_DEFAULTS.items():
        builder = builder.config(f"spark.{k}", v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: Target input bytes per Python-stage task (optimizer estimate — for
#: parquet-backed inputs that is COMPRESSED bytes, ~5-10x denser than
#: the in-flight rows). Python keyed stages cost per ROW, not per byte,
#: so this sits far below the JVM advisory partition size (256 MB): the
#: r13 scaling block measured the CEP/changelog family ~MIN at an
#: 8-way fan-out of the ~1.5-2 MB sf0.1 estimates, i.e. ~256 KiB of
#: estimate per task. Env-overridable for cluster tuning.
PYTHON_STAGE_TASK_BYTES = int(
    os.environ.get("RESHAPE_PY_STAGE_TASK_BYTES", 256 * 1024)
)

#: Never cap the fan-out below this many partitions: a wrong-low
#: optimizer estimate (post-filter selectivity guesses) must not
#: serialize a genuinely heavy Python stage — 1-2 partitions is the
#: exact failure the pin exists to prevent.
PYTHON_STAGE_MIN_PARTITIONS = int(
    os.environ.get("RESHAPE_PY_STAGE_MIN_PARTITIONS", 8)
)


def repartition_for_python_stage(
    df: DataFrame, cols, *, task_bytes: int | None = None
) -> DataFrame:
    """Hash-repartition ``df`` by ``cols`` with an EXPLICIT partition
    count for a downstream Python stage (``applyInPandas`` /
    ``mapInPandas`` keyed scans).

    Why explicit: AQE's partition coalescing sizes post-shuffle
    partitions by BYTES (``advisoryPartitionSizeInBytes`` /
    ``minPartitionSize``) — the right proxy for JVM operators, but a
    Python replay/NFA stage's cost is per ROW (orders of magnitude more
    CPU per byte), so a few-MB keyed shuffle coalesces to 1-2 partitions
    and the whole Python stage serializes onto 1-2 cores (measured:
    ``repartition("user_id")`` ran the pandas scan on ONE partition at
    sf0.1; pinning restored full parallelism — optimization guide §2.2/
    §4). Spark leaves user-pinned ``repartition(n, cols)`` alone, and a
    following ``groupBy(cols)`` reuses the partitioning (no second
    exchange).

    The count follows ``spark.sql.shuffle.partitions`` — the
    deployment's configured starting parallelism (set per cluster; the
    local default tracks $SPARK_GRAFT_CPUS) — NOT a hard-coded local
    constant. Stages whose per-partition FIXED cost dominates at small
    inputs (round 14, verdict item 6: the CEP scans — per-partition
    plan/flag/numpy setup, measured 1.2-1.9x faster at sf0.1 when the
    fan-out tracks input size) pass ``task_bytes`` to additionally cap
    the width at ``ceil(estimated_bytes / task_bytes)``, floored at
    :data:`PYTHON_STAGE_MIN_PARTITIONS`. The cap self-removes at scale
    (a 10x input estimate re-opens the full configured width) and on
    estimate failure (unknown/huge sizeInBytes ⇒ full width), so it is
    a small-input overhead bound, not a parallelism limit. Stages whose
    per-ROW cost dominates (the changelog replay processors — the only
    bench entries that SCALE with cores in the r13 driver's 8-vs-32
    block, and measured 0.6-0.8x under a forced cap) keep the full
    width: leave ``task_bytes`` None. Empty partitions (fewer live keys
    than N) cost only task launches; per-key skew inside a Python stage
    is bounded by the largest single key either way.
    """
    from pyspark.sql import functions as F

    cols = [cols] if isinstance(cols, str) else list(cols)
    n = python_stage_width(df, task_bytes=task_bytes)
    return df.repartition(n, *[F.col(c) for c in cols])


def python_stage_width(df: DataFrame, *, task_bytes: int | None = None) -> int:
    """The partition count :func:`repartition_for_python_stage` would
    pin for ``df`` — exposed so CO-GROUPED stages can size BOTH inputs
    with one width (mismatched widths make EnsureRequirements re-shuffle
    one side: an extra exchange, measured in the r14 skip plan)."""
    spark = df.sparkSession
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        n = spark.sparkContext.defaultParallelism
    if task_bytes:
        try:
            est = int(
                str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
            )
            if 0 < est < n * task_bytes:
                n = min(n, max(
                    PYTHON_STAGE_MIN_PARTITIONS,
                    -(-est // task_bytes),
                ))
        except Exception:
            pass  # no estimate -> keep the configured width
    return n


class EngineSession:
    """Thin TableEnvironment-style facade over a SparkSession.

    Registers the fixture tables as temp views and exposes ``sql`` /
    ``table``; everything else is plain DataFrame API on ``self.spark``.
    """

    TABLES = (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    )

    def __init__(self, spark: SparkSession | None = None, data_dir: str | None = None):
        self.spark = spark or get_spark()
        self.data_dir = data_dir
        if data_dir:
            self.register_dir(data_dir)

    def register_dir(self, data_dir: str) -> None:
        """Register every fixture parquet in ``data_dir`` as a temp view.

        Parquet carries its own schema (no inference); scans stay lazy, so
        registration is free and Catalyst prunes columns/filters per query.
        """
        self.data_dir = data_dir
        ensure_confs(self.spark)
        for name in self.TABLES:
            path = os.path.join(data_dir, f"{name}.parquet")
            if os.path.exists(path):
                _normalize(name, self.spark.read.parquet(path)).createOrReplaceTempView(name)

    def sql(self, statement: str) -> DataFrame:
        """SQL entry point (reference: TableEnvironmentImpl.executeSql:723)."""
        return self.spark.sql(statement)

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)


def ensure_confs(spark: SparkSession) -> SparkSession:
    """Set runtime-settable confs the engine relies on.

    Called from every table-loading path so the engine behaves the same on
    a caller-provided session (e.g. the driver's vanilla SparkSession) as
    on one built by get_spark().
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    return spark


def _normalize(name: str, df: DataFrame) -> DataFrame:
    """Fixture-schema normalization.

    ``events.ts`` arrives as int64 nanoseconds (see nanosAsLong in
    get_spark); convert to TimestampType by truncating to microseconds —
    the same truncation DuckDB's ns->us cast performs, keeping the two
    engines' event times identical.
    """
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


class _LazyTables:
    """Mapping of table name -> DataFrame that defers the (footer-reading)
    ``spark.read.parquet`` until a table is actually requested, and caches
    the resulting plan. Queries touch 1-6 of the 10 fixture tables; eager
    loading added ~0.5s of schema RPCs to every query invocation."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._cache:
            path = os.path.join(self._sf_dir, f"{name}.parquet")
            if not os.path.exists(path):
                raise KeyError(name)
            self._cache[name] = _normalize(name, self._spark.read.parquet(path))
        return self._cache[name]

    def __contains__(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._sf_dir, f"{name}.parquet"))

    def keys(self) -> list[str]:
        return sorted(
            f[: -len(".parquet")]
            for f in os.listdir(self._sf_dir)
            if f.endswith(".parquet")
        )

    def items(self):
        return ((name, self[name]) for name in self.keys())


_TABLES_MEMO: dict[tuple[int, str], _LazyTables] = {}


def load_tables(spark: SparkSession, sf_dir: str) -> _LazyTables:
    """Fixture tables keyed by name — lazy per-table reads, memoized per
    (session, dir) so repeated query invocations share the scan plans."""
    ensure_confs(spark)
    key = (id(spark), sf_dir)
    if key not in _TABLES_MEMO:
        _TABLES_MEMO[key] = _LazyTables(spark, sf_dir)
    return _TABLES_MEMO[key]
