"""SparkSession factory with engine defaults.

Defaults chosen for correctness-parity with the DuckDB oracle and for
100 TB-scale execution habits (SURVEY.md section 4.2):

- ``spark.sql.session.timeZone=UTC``: the reference emits UTC ISO-8601
  timestamps (reference app/app.py:48); DuckDB timestamps are UTC-naive.
- AQE on: runtime join-strategy switching, skew-join splitting, and
  shuffle-partition coalescing are the first line of defense at scale.
- ``spark.sql.legacy.parquet.nanosAsLong=true``: the driver testdata's
  ``events.ts`` column is parquet TIMESTAMP(NANOS), which Spark cannot
  represent natively; we read it as nanos-since-epoch LONG and convert
  with integer division (see sources.readers.read_table).
- ``spark.sql.streaming.pollingDelay=100ms``: an idle stream relists its
  raw zone 10 times a second instead of Spark's 100 (see the comment at
  the setting).
- shuffle partitions sized for the local test harness; a cluster deploy
  overrides via ``spark_conf`` (AQE coalescing makes over-provisioning
  cheap, so at 100 TB you set this to ~3x total cores and let AQE shrink).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    # Pin ANSI explicitly (Spark 4 default, but the engine RELIES on it):
    # the read boundary casts DECIMAL(p<=18,0) keys to BIGINT
    # (sources/readers.py), so a whole-unit measure stored as DECIMAL(18,0)
    # that overflows a long under SUM must fail loudly, not wrap
    # (round-9 ADVICE). With ANSI off the overflow would be silent and
    # only the DuckDB oracle's HUGEINT sum would catch it.
    "spark.sql.ansi.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Round-10 found-and-fixed: under the default EXCEPTION dedup policy,
    # a JSONL record with a DUPLICATE KEY ({"t":1,"t":2}) is silently
    # swallowed by the JSON reader -- no parsed row, no corrupt-record
    # row, and FAILFAST doesn't even raise. LAST_WIN parses it with the
    # last value, which is exactly the reference's json.loads semantics
    # (app/app.py:60). Affects map-building functions only when duplicate
    # keys actually occur (dedup instead of raise) -- the preferable
    # behavior at scale anyway.
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    # Round-12 found-and-fixed: Spark's OWN default here is the legacy
    # INT96 encoding (Hive/Impala compat), whose min/max statistics are
    # untrustworthy by parquet spec -- pyarrow hides them and readers
    # ignore them -- so every timestamp-bearing lake the ENGINE ITSELF
    # wrote was immune to its own file pruner AND to row-group pruning
    # on re-read (probe: a bounded read of an engine-written partitioned
    # zone kept all files; the footer showed physical INT96, stats
    # opaque). TIMESTAMP_MICROS is the modern encoding: 8 bytes/value
    # instead of 12, ordered statistics, prunable by every reader.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python DataSource connectors (sources/custom.py) may implement
    # pushFilters; without this flag Spark refuses to plan them at all.
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.sql.parquet.mergeSchema": "false",
    # An idle long-lived stream relists its source directory every
    # pollingDelay (an internal conf, 10 ms by default). Each listing
    # covers every file the raw zone has ever received, so at 10 ms the
    # stream execution thread burned 0.27 CPU-s per idle second on a
    # small zone, growing with the zone. 100 ms adds at most 0.1 s of
    # queue wait to a ~1.6-1.9 s micro-batch; availableNow drains took
    # the same time at 10 ms and at 3 s.
    "spark.sql.streaming.pollingDelay": "100ms",
    "spark.ui.enabled": "false",
}


def _env_extra_conf(env_value: str) -> dict[str, str]:
    """Parse ``SPARK_GRAFT_EXTRA_CONF`` (``key=value;key=value``) into a
    conf dict. Items without ``=`` are ignored rather than raised: the
    sweep env var is operator-typed and a half-typed item should not
    take the whole harness down."""
    conf: dict[str, str] = {}
    for item in filter(None, (s.strip() for s in env_value.split(";"))):
        k, sep, v = item.partition("=")
        if sep and k.strip():
            conf[k.strip()] = v.strip()
    return conf


def build_session(
    app_name: str = "iot-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so the same entry point serves tests, bench, and the
    driver harness; on a real cluster the caller passes its own master.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    builder = SparkSession.builder.master(master).appName(app_name)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    # Perturbation hook for determinism sweeps: results must not depend on
    # planner/runtime settings, so the harness is re-run under e.g.
    # SPARK_GRAFT_EXTRA_CONF="spark.sql.adaptive.enabled=false;
    # spark.sql.shuffle.partitions=1" and compared against the oracle
    # again. Applied last because a sweep exists precisely to overrule
    # the defaults (including caller extra_conf). Overrides are printed
    # so a sweep run is self-documenting and a stray env var leaking
    # into a non-sweep deployment is visible in the logs instead of
    # silently reconfiguring the engine.
    env_conf = _env_extra_conf(os.environ.get("SPARK_GRAFT_EXTRA_CONF", ""))
    if env_conf:
        print(
            "[iot-data-pipeline-spark] SPARK_GRAFT_EXTRA_CONF overrides: "
            + "; ".join(f"{k}={v}" for k, v in sorted(env_conf.items()))
        )
    conf.update(env_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def object_store_conf(
    bucket_scheme: str = "s3a",
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    path_style_access: bool = False,
) -> dict[str, str]:
    """Spark conf recipe for object-store (``s3a://``) I/O -- the engine
    counterpart of the reference's S3-only surface (reference
    app/app.py:29-31 get_object/iter_lines, app/app.py:68-80 put_object).

    The engine itself is path-scheme-agnostic (every reader/sink takes a
    path string); what a deployment needs is (1) the hadoop-aws +
    aws-sdk-bundle jars on the cluster classpath and (2) these confs.
    Pass the result as ``build_session(extra_conf=...)``, or apply to a
    live session with :func:`configure_object_store`.

    Credentials default to the provider chain (instance profile / env
    vars) -- only set key confs for non-IAM setups like on-prem MinIO/Ceph
    (those also want ``endpoint`` + ``path_style_access=True``).
    """
    p = f"spark.hadoop.fs.{bucket_scheme}"
    conf = {
        f"{p}.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
        # the committer matters at scale: the magic committer makes task
        # commits O(1) metadata ops instead of O(files) renames (object
        # stores have no atomic rename)
        f"{p}.committer.name": "magic",
        "spark.sql.sources.commitProtocolClass": (
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
        ),
        "spark.sql.parquet.output.committer.class": (
            "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
        ),
        f"{p}.connection.maximum": "96",
        f"{p}.fast.upload": "true",
    }
    if endpoint:
        conf[f"{p}.endpoint"] = endpoint
    if access_key:
        conf[f"{p}.access.key"] = access_key
    if secret_key:
        conf[f"{p}.secret.key"] = secret_key
    if path_style_access:
        conf[f"{p}.path.style.access"] = "true"
    return conf


def configure_object_store(spark: SparkSession, conf: dict[str, str]) -> None:
    """Apply ``spark.hadoop.*`` filesystem conf to an already-running
    session: Hadoop FS conf is read at FileSystem-resolution time, not
    session start, so scheme registration works post-start (unlike static
    Spark SQL confs). Non-``spark.hadoop.`` keys go through the normal
    runtime conf path."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in conf.items():
        if k.startswith("spark.hadoop."):
            hconf.set(k[len("spark.hadoop.") :], v)
        else:
            try:
                spark.conf.set(k, v)
            except Exception:
                pass  # static conf on a running session; document-only


def get_session() -> SparkSession:
    """Active session if one exists (e.g. driver-provided), else build one."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    return build_session()


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-built session.

    The driver harness constructs its own SparkSession and hands it to
    ``__spark_entry__.entry``; this aligns the confs that matter for
    oracle parity (timezone, nanos handling, AQE) without restarting.
    """
    conf = dict(_DEFAULTS)
    # A vanilla session ships Spark's default 200 shuffle partitions --
    # at the driver's sf0.01 probe scale that is ~6x task-scheduling
    # overhead per exchange for no parallelism gain. Size to the host
    # like build_session does (AQE coalescing keeps it safe either way).
    # Validate the env override: conf.set accepts any string and a
    # non-integer (e.g. a fractional vCPU count like "0.25") would only
    # explode at the first shuffle. Fall back to 32 on garbage.
    try:
        cpus = max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    except ValueError:
        cpus = 32
    # Respect a deliberate non-default choice by the session's owner: only
    # replace Spark's out-of-the-box 200.
    try:
        current = spark.conf.get("spark.sql.shuffle.partitions")
    except Exception:
        current = "200"
    if current == "200":
        conf["spark.sql.shuffle.partitions"] = str(cpus)
    else:
        conf.pop("spark.sql.shuffle.partitions", None)
    for k, v in conf.items():
        if k == "spark.ui.enabled":
            continue  # static conf; cannot change post-start
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build; defaults still acceptable
    return spark
