"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
configs are the ones we would ship to a 1000-executor cluster, with the
local-only knobs (driver memory) isolated here.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

# Runtime-settable SQL confs applied to ANY session our code touches (including
# a session the driver harness created itself).  These are safe to set
# post-startup; they matter for correctness, not just speed.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores INT64 TIMESTAMP(NANOS); Spark has no ns timestamp
    # type, so read as long and convert explicitly (catalog.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock semantics; matches the DuckDB oracle's naive ts.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime coalescing, skew-join splitting, broadcast demotion.
    "spark.sql.adaptive.enabled": "true",
    # Bucketed+sorted lake tables (queries/lakeops.py) are written ONE file
    # per bucket, so propagating their sort order is free and eliminates
    # the per-task Sort under bucket-co-located SortMergeJoins.  Off by
    # default upstream only because the required planning-time file listing
    # is expensive for many-file buckets — ours are single-file by
    # construction (bucketed writes repartition onto the bucket key first).
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Write TimestampType (LTZ) as INT64 TIMESTAMP_MICROS, not Spark
    # 4.1's INT96 default: INT96 is deprecated in the parquet spec and
    # carries NO usable column statistics (pyarrow has_min_max=False,
    # verified empirically), so an LTZ column in a repo-written lake
    # would be invisible to every stats-based pruner — the commit-log
    # manifest stats, the footer census (sources/footer.py), and Spark's
    # own row-group filters.  TIMESTAMP_NTZ columns (the testdata-derived
    # tables) already wrote INT64 regardless; this closes the LTZ gap.
    # Found by the footer ground-truth pin (tests/test_footer_stats.py).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply RUNTIME_CONFS to an existing session, ours or one passed in.

    Static confs (spark.sql.codegen.cache.maxEntries among them) are fixed
    when the session starts: they reach only sessions built by get_spark,
    never one a caller built itself."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException:
            pass  # static conf on this build — session factory already set it
    return spark


def _extra_conf() -> list[tuple[str, str]]:
    """``SPARK_GRAFT_EXTRA_CONF``: semicolon-separated k=v pairs; an item
    without ``=`` is a typo, not an empty setting, so it raises."""
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    pairs = []
    for item in filter(None, (s.strip() for s in extra.split(";"))):
        k, eq, v = item.partition("=")
        if not eq:
            raise ValueError(
                f"SPARK_GRAFT_EXTRA_CONF item {item!r} is not a k=v pair"
            )
        pairs.append((k.strip(), v.strip()))
    return pairs


def get_spark(app_name: str = "lab_etl_spark") -> SparkSession:
    extra = _extra_conf()  # before the shared builder is touched
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # One shuffle partition per core locally; on a real cluster this would
        # scale with executor count (AQE coalesces the excess either way).
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Two separate caches hold generated code.  The JVM's JIT code cache
        # holds the machine code HotSpot makes from hot methods; with a
        # diverse query mix the default 240 MB fills, the JVM starts
        # flushing/deoptimizing, and random queries fall back to the
        # interpreter (measured: 20-60 s stalls on 1 s queries).  2 GB keeps
        # every compiled stage resident.
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=2g")
        # Spark's own LRU of Janino-compiled codegen classes, keyed by the
        # generated source.  Every query call and every loop round builds a
        # fresh plan, so a class is reused only while it stays in this
        # cache.  The default 100 entries is below the working set (one
        # iterative_loops perfbench pass: ~197 classes; the 175-query bench
        # set: ~2,300), so each warm pass recompiled 190-196 classes on a
        # 4-core host.  4096 is ~1.8x the bench set: warm passes compile
        # 4-8 classes and iterative_loops wall time fell ~20 %.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    # Conf overrides without code edits (A/B experiments, cluster
    # deployments): semicolon-separated k=v pairs, applied LAST so they
    # win over the defaults above.  Empty/unset is the shipped default.
    for k, v in extra:
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
