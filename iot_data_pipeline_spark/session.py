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
- ``spark.sql.codegen.cache.maxEntries=2000``: the lake query mix
  compiles 180 distinct generated classes against Spark's 100-entry
  cache, so its LRU evicted them in a cycle and every round of the mix
  recompiled about 160 classes, doubling executor CPU (measurement at
  the setting). A static conf: it applies only to sessions
  :func:`build_session` builds.
- shuffle partitions sized for the local test harness; a cluster deploy
  overrides via ``spark_conf`` (AQE coalescing makes over-provisioning
  cheap, so at 100 TB you set this to ~3x total cores and let AQE shrink).
- Driver JVM class-data archive (JDK 17 AppCDS): a file of the classes a
  driver JVM loaded, already parsed and verified. A JVM that
  :func:`build_session` launches maps it and skips most class loading;
  with no archive yet, the JVM writes one when it exits. Measured on a
  4-core VM: the benchmark's set-up CPU (``setup_s``) fell from 18.8 to
  10.6 s on ``lake_query`` and from 18.1 to 11.0 s on ``stream_ingest``
  (medians of 16 and 10 pairs), and the worker CLI
  (``python -m iot_data_pipeline_spark``) ran in 8 s instead of 14 s of
  wall time. One-time cost: a 15-22 s dump at the first JVM's exit and
  a 180-185 MB file per JDK, jar set and set of driver JVM options,
  kept in ``$XDG_CACHE_HOME/iot-data-pipeline-spark/`` (default
  ``~/.cache``), a directory only this user may write. JDK 17 writes no
  archive while a non-empty directory is on the classpath, and Spark's
  launcher puts the conf dir there: a conf dir that is missing or holds
  only ``*.template`` files is swapped for an empty one, and any other
  conf dir turns the archive off. To opt out, pass ``-Xshare:off`` in
  ``spark.driver.extraJavaOptions``; any ``-Xshare``,
  ``SharedArchiveFile`` or ``ArchiveClassesAtExit`` option of the
  caller's also leaves the JVM as the caller set it.
"""

from __future__ import annotations

import contextlib
import hashlib
import logging
import os
import re
import shlex
import shutil
import stat
import struct
import time
import uuid
from dataclasses import dataclass
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql import SparkSession

log = logging.getLogger("iot_data_pipeline_spark")

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
    # Compiled-class cache (Spark's default keeps 100). Measured on the
    # lake query mix (8 registry queries, 60k-row lake, 4-core VM): the
    # mix compiles 180 distinct generated classes, so at 100 every round
    # recompiled 161-167 of them (CodegenMetrics compile count) and its
    # executor threads spent 3.0-3.2 CPU-s against 1.5 CPU-s once the
    # cache holds the working set; 2000 leaves room for ten such mixes.
    # Static: read once when the JVM first generates code.
    "spark.sql.codegen.cache.maxEntries": "2000",
    "spark.ui.enabled": "false",
}

#: Static confs in ``_DEFAULTS``: fixed when the JVM-side session state
#: is created, so only :func:`build_session` can apply them.
_STATIC = frozenset({"spark.sql.codegen.cache.maxEntries", "spark.ui.enabled"})


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

    A driver JVM it launches starts from the per-user class-data archive,
    or writes it when it exits (module docstring); a running JVM is reused
    as it is.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    conf = {"spark.master": master, "spark.app.name": app_name, **_DEFAULTS}
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
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        spark = _get_or_create(conf)  # the JVM is already running
    else:
        spark = _launch(conf)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _get_or_create(conf: dict[str, str]) -> SparkSession:
    return SparkSession.builder.config(map=conf).getOrCreate()


# ------------------------------------------------- driver JVM class-data archive

#: Options with which the caller already decides how the driver JVM shares
#: classes; the engine then adds none of its own.
_CALLER_CDS = re.compile(r"-Xshare|SharedArchiveFile|ArchiveClassesAtExit")
#: Environment variables whose options the driver JVM also receives.
_JVM_OPTION_VARS = ("SPARK_SUBMIT_OPTS", "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS")
#: CDS logs to stdout: a warning for a mismatched archive, and hundreds of
#: "Skipping ... Signed JAR" lines while dumping.
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
#: The first word of a finished dynamic archive. The JVM writes the header
#: last, so a dump killed mid-write still has zeros here.
_DYNAMIC_MAGIC = struct.pack("=I", 0xF00BABA8)  # in the JVM's byte order
#: A part file still without its magic this long after its last write is a
#: killed dump (a whole dump takes 15-22 s on a 4-core VM).
_STALE_PART_S = 600.0

#: The line :func:`build_session` last logged about the archive: mapped,
#: written at exit, or off and why. None until it launches a JVM; a
#: process has one driver JVM, so it has one such line.
archive_status: str | None = None


@dataclass(frozen=True)
class _Archive:
    """What the next driver JVM does with the class-data archive."""

    options: str = ""  # appended to spark.driver.extraJavaOptions
    conf_dir: str | None = None  # SPARK_CONF_DIR for the launch
    path: str | None = None  # the archive to map, or the part to dump to
    mapped: bool = False  # path is an archive to map, not a part to write
    reason: str = ""  # why there is no archive, when options is empty

    def apply(self, conf: dict[str, str]) -> dict[str, str]:
        """``conf`` with the options appended to the caller's own."""
        if not self.options:
            return conf
        key = "spark.driver.extraJavaOptions"
        return {**conf, key: f"{conf.get(key, '')} {self.options}".strip()}


def _cache_dir() -> Path:
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):
        base = os.path.join(os.path.expanduser("~"), ".cache")
    return Path(base) / "iot-data-pipeline-spark"


def _spark_home() -> Path:
    from pyspark.find_spark_home import _find_spark_home

    return Path(_find_spark_home())


def _not_private(path: Path) -> str | None:
    """Create ``path`` as 0700; say why it must not hold code the driver
    runs (another user owns it or can write it), or None."""
    try:
        path.mkdir(mode=0o700, parents=True, exist_ok=True)
        st = path.lstat()
    except OSError as e:
        return f"cannot create {path}: {e.strerror}"
    if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid() or st.st_mode & 0o022:
        return f"{path} is not a directory that only this user owns and can write"
    return None


def _classpath_blocker(conf: dict[str, str]) -> str | None:
    """Why the driver JVM could not write an archive, or None. JDK 17
    writes none while a non-empty directory is on the classpath, and
    Spark's launcher puts the conf dir there, first. A conf dir that is
    missing or holds only ``*.template`` files is swapped for an empty
    one; any other non-empty directory on the classpath turns the
    archive off."""
    conf_dir = Path(os.environ.get("SPARK_CONF_DIR") or _spark_home() / "conf")
    with contextlib.suppress(OSError):
        real = sorted(n for n in os.listdir(conf_dir) if not n.endswith(".template"))
        if real:
            return (
                f"the conf dir {conf_dir} holds {real[0]}, and the JVM writes "
                "no archive while a non-empty directory is on the classpath"
            )
    for entry in _extra_classpath(conf):
        with contextlib.suppress(OSError):
            if os.listdir(entry):
                return f"{entry} on the classpath is a non-empty directory"
    return None


def _extra_classpath(conf: dict[str, str]) -> list[str]:
    """The entries Spark's launcher puts on the driver's classpath besides
    the conf dir and Spark's own jars."""
    extra = [conf.get("spark.driver.extraClassPath")]
    extra += map(os.environ.get, ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"))
    return [e for e in os.pathsep.join(filter(None, extra)).split(os.pathsep) if e]


def _archive_key(conf: dict[str, str]) -> str:
    """Digest of what the archive depends on: the JDK, the jar set, the
    extra classpath and the driver JVM options (``extraJavaOptions`` and
    ``SPARK_SUBMIT_OPTS``) other than ``-D`` system properties, which
    change no class the JVM loads. Options every JVM on the host gets
    (``JAVA_TOOL_OPTIONS`` and the like; a benchmark puts a per-run temp
    dir there) are left to the JVM's own check of the archive
    (classpath, jar sizes and mtimes, GC and heap modes), the backstop
    for everything: an archive it rejects is removed (:func:`_report`)."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    java = os.path.realpath(java or "java")
    files = [java, os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "modules")]
    files += sorted(str(p) for p in (_spark_home() / "jars").glob("*.jar"))
    h = hashlib.sha256()
    for f in files:
        try:
            st = os.stat(f)
            h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
        except OSError:
            h.update(f"{f}\0missing\n".encode())
    options = [conf.get("spark.driver.extraJavaOptions"), os.environ.get("SPARK_SUBMIT_OPTS")]
    options = [o for o in " ".join(filter(None, options)).split() if not o.startswith("-D")]
    h.update(f"options={options}\nclasspath={_extra_classpath(conf)}\n".encode())
    h.update(f"memory={conf.get('spark.driver.memory', '')}\n".encode())
    return h.hexdigest()[:16]


def _open_owned(path: Path) -> tuple[bytes, os.stat_result] | None:
    """(first 4 bytes, stat) of a regular file this user owns, else None."""
    try:
        fd = os.open(path, os.O_RDONLY | os.O_NOFOLLOW)
    except OSError:
        return None
    with os.fdopen(fd, "rb") as fh:
        head, st = fh.read(4), os.fstat(fd)
    if not stat.S_ISREG(st.st_mode) or st.st_uid != os.getuid():
        return None
    return head, st


def _remove(path) -> None:
    with contextlib.suppress(OSError):
        os.unlink(path)


def _whole_archive(cache: Path, key: str) -> Path | None:
    """The whole archive for ``key``, or None.

    A part a dumping JVM finished (its magic is set) is renamed into place
    as ``driver-<key>.<size>.jsa``; an archive is used only while its size
    still matches that name, because a good header over a truncated body
    crashes the JVM at start. Archives that fail this, parts made
    redundant by a whole archive and parts of killed dumps are removed.
    """
    found = None
    for path in cache.glob(f"driver-{key}.*.jsa"):
        got = _open_owned(path)
        if found is None and got and path.name.split(".")[1] == str(got[1].st_size):
            found = path
        else:
            _remove(path)
    for part in cache.glob(f"driver-{key}.*.part"):
        got = _open_owned(part)
        if got is None:
            _remove(part)
        elif got[0] == _DYNAMIC_MAGIC:
            if found is None:
                target = cache / f"driver-{key}.{got[1].st_size}.jsa"
                with contextlib.suppress(OSError):
                    os.rename(part, target)
                    found = target
            else:
                _remove(part)
        elif time.time() - got[1].st_mtime > _STALE_PART_S:
            _remove(part)
    return found


def _plan_archive(conf: dict[str, str]) -> _Archive:
    """Decide how the driver JVM about to launch uses the archive: map a
    whole one, or write one at exit to a part file of its own, or neither."""
    caller = [conf.get("spark.driver.extraJavaOptions"), os.environ.get("PYSPARK_SUBMIT_ARGS")]
    caller += map(os.environ.get, _JVM_OPTION_VARS)
    if _CALLER_CDS.search(" ".join(filter(None, caller))):
        return _Archive(reason="the caller's JVM options set class sharing")
    blocker = _classpath_blocker(conf)
    if blocker:
        return _Archive(reason=blocker)
    cache = _cache_dir()
    conf_dir = cache / "empty-conf"
    why = _not_private(cache) or _not_private(conf_dir)
    if why:
        return _Archive(reason=why)
    if os.listdir(conf_dir):
        return _Archive(reason=f"{conf_dir} is not empty")
    key = _archive_key(conf)
    archive = _whole_archive(cache, key)
    if archive is not None:
        flag, path = "SharedArchiveFile", archive
    else:
        flag, path = "ArchiveClassesAtExit", cache / f"driver-{key}.{uuid.uuid4().hex}.part"
    return _Archive(
        f"-XX:{flag}={shlex.quote(str(path))} {_CDS_QUIET}",
        str(conf_dir),
        str(path),
        archive is not None,
    )


@contextlib.contextmanager
def _spark_conf_dir(path: str | None):
    """Point ``SPARK_CONF_DIR`` at ``path`` while the JVM launches."""
    before = os.environ.get("SPARK_CONF_DIR")
    if path is not None:
        os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if before is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = before


def _launch(conf: dict[str, str]) -> SparkSession:
    """Launch the driver JVM from the class-data archive, or have it write
    one at exit. A JVM that fails to start from an archive (a good header
    over a bad body crashes it) is started once more without it."""
    from pyspark.errors import PySparkRuntimeError

    archive = _plan_archive(conf)
    try:
        return _start(conf, archive)
    except PySparkRuntimeError as e:
        if not archive.mapped or e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
    _remove(archive.path)
    log.warning(
        "driver JVM class-data archive: the JVM failed to start from %s, now "
        "removed; starting again without it",
        archive.path,
    )
    return _start(conf, _plan_archive(conf))


def _start(conf: dict[str, str], archive: _Archive) -> SparkSession:
    with _spark_conf_dir(archive.conf_dir):
        spark = _get_or_create(archive.apply(conf))
    _report(spark, archive)
    return spark


def _report(spark: SparkSession, archive: _Archive) -> None:
    """Log whether the driver JVM runs from the archive. "Mapped" is read
    from ``/proc/<jvm pid>/maps``; an archive the JVM rejected (its own
    check failed) is removed, so the next session writes a new one."""
    global archive_status
    if not archive.options:
        status = f"off: {archive.reason}"
    elif not archive.mapped:
        status = f"will be written at exit to {archive.path}"
    else:
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        try:
            with open(f"/proc/{pid}/maps") as fh:
                maps = fh.read()
        except OSError:
            status = f"passed {archive.path} (no /proc to check the mapping)"
        else:
            if os.path.realpath(archive.path) in maps:
                status = f"mapped {archive.path}"
            else:
                _remove(archive.path)
                status = f"off: the JVM rejected {archive.path}, now removed"
    archive_status = f"driver JVM class-data archive: {status}"
    log.info(archive_status)


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
    Static confs (:data:`_STATIC`) cannot change on a running session and
    are skipped: such a session keeps Spark's 100-entry codegen cache and
    recompiles generated classes that a session from
    :func:`build_session` reuses.
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
        if k in _STATIC:
            continue
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build; defaults still acceptable
    return spark
