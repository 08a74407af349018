"""The driver JVM starts from a per-user class-data (AppCDS) archive.

The first session writes the archive when its JVM exits; later sessions
map it. The unit tests drive the planning rules over a temp cache dir and
a fake conf dir, without a JVM. The integration test runs child
processes that each build a session, dump, map, and survive a truncated
archive, one whose recorded size was forged to match (which crashes the
JVM at start, so the session starts it again without the archive) and
one the JVM rejects.
"""

from __future__ import annotations

import json
import os
import shutil
import stat
import struct
import subprocess
import sys
import time
from pathlib import Path

import pytest

from iot_data_pipeline_spark import session
from iot_data_pipeline_spark.session import _plan_archive

#: A finished dynamic archive's first word, as the JVM writes it.
MAGIC = struct.pack("=I", 0xF00BABA8)
JAVA_OPTS = "spark.driver.extraJavaOptions"


@pytest.fixture
def cache(tmp_path, monkeypatch) -> Path:
    """A temp cache dir and a conf dir that holds only a template, with
    no caller JVM options or extra classpath in the environment."""
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf.template").write_text("# template\n")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    for k in ("SPARK_SUBMIT_OPTS", "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS",
              "PYSPARK_SUBMIT_ARGS", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
        monkeypatch.delenv(k, raising=False)
    return tmp_path / "xdg" / "iot-data-pipeline-spark"


def _dump(path: Path, whole: bool = True) -> None:
    """What a dumping JVM leaves: a finished archive, or (not ``whole``) a
    dump killed before it wrote its header."""
    path.write_bytes((MAGIC if whole else bytes(4)) + b"\x01" * 4096)


def _promoted(cache: Path) -> Path:
    _dump(Path(_plan_archive({}).path))
    plan = _plan_archive({})
    assert plan.mapped
    return Path(plan.path)


def test_without_an_archive_the_jvm_dumps_to_a_part_of_its_own(cache):
    a, b = _plan_archive({}), _plan_archive({})
    for plan in (a, b):
        assert not plan.mapped
        assert f"-XX:ArchiveClassesAtExit={plan.path} " in plan.options
        assert plan.options.endswith("-Xlog:cds=off -Xlog:cds+dynamic=off")
        assert Path(plan.path).parent == cache and plan.path.endswith(".part")
        assert os.listdir(plan.conf_dir) == []
    assert a.path != b.path
    assert stat.S_IMODE(cache.stat().st_mode) == 0o700


def test_a_whole_promoted_archive_is_mapped(cache):
    part = Path(_plan_archive({}).path)
    _dump(part)
    plan = _plan_archive({})
    assert plan.mapped
    assert f"-XX:SharedArchiveFile={plan.path} " in plan.options
    assert not part.exists()
    assert Path(plan.path).name.endswith(".4100.jsa")
    assert _plan_archive({}).path == plan.path


def test_an_archive_whose_size_changed_is_neither_mapped_nor_kept(cache):
    archive = _promoted(cache)
    os.truncate(archive, 1024)
    plan = _plan_archive({})
    assert not plan.mapped and "ArchiveClassesAtExit" in plan.options
    assert not archive.exists()


def test_a_part_with_a_zeroed_header_is_never_promoted(cache):
    part = Path(_plan_archive({}).path)
    _dump(part, whole=False)
    assert not _plan_archive({}).mapped
    assert part.exists() and not list(cache.glob("*.jsa"))
    # once nothing has written to it for a while it is a killed dump
    old = time.time() - 3600
    os.utime(part, (old, old))
    assert not _plan_archive({}).mapped
    assert not part.exists() and not list(cache.glob("*.jsa"))


def test_a_conf_dir_with_a_real_file_gets_no_archive_options(cache):
    conf_dir = Path(os.environ["SPARK_CONF_DIR"])
    (conf_dir / "spark-defaults.conf").write_text("spark.driver.memory 1g\n")
    plan = _plan_archive({})
    assert plan.options == "" and plan.conf_dir is None
    assert "spark-defaults.conf" in plan.reason
    conf = {JAVA_OPTS: "-Dx=1"}
    assert plan.apply(conf) == conf


def test_a_callers_xshare_off_is_kept_and_nothing_is_added(cache):
    conf = {JAVA_OPTS: "-Dx=1 -Xshare:off"}
    plan = _plan_archive(conf)
    assert plan.options == ""
    assert plan.apply(conf) == conf
    # other caller options are appended to, never replaced
    other = {JAVA_OPTS: "-Dx=1"}
    assert _plan_archive(other).apply(other)[JAVA_OPTS].startswith(
        "-Dx=1 -XX:ArchiveClassesAtExit="
    )


def test_other_driver_jvm_options_select_another_archive(cache, monkeypatch):
    archive = _promoted(cache)
    # system properties change no class the JVM loads; options every JVM
    # on the host gets are left to the JVM's own check
    assert _plan_archive({JAVA_OPTS: "-Dx=1"}).path == str(archive)
    monkeypatch.setenv("SPARK_SUBMIT_OPTS", "-Divy.home=/elsewhere")
    monkeypatch.setenv("JAVA_TOOL_OPTIONS", "-XX:-UsePerfData -Djava.io.tmpdir=/elsewhere")
    assert _plan_archive({}).path == str(archive)
    key = archive.name.split(".")[0]
    for conf, env in (({JAVA_OPTS: "-Xss4m"}, ""), ({}, "-XX:-UseCompressedOops")):
        monkeypatch.setenv("SPARK_SUBMIT_OPTS", env)
        plan = _plan_archive(conf)
        assert not plan.mapped and Path(plan.path).name.split(".")[0] != key


def test_an_archive_another_user_owns_or_can_write_is_not_used(cache):
    archive = _promoted(cache)
    cache.chmod(0o777)
    plan = _plan_archive({})
    assert plan.options == "" and "only this user" in plan.reason
    cache.chmod(0o700)
    assert _plan_archive({}).mapped
    if os.getuid() != 0:
        return  # only root can hand a file to another user
    os.chown(cache, 65534, -1)
    plan = _plan_archive({})
    assert plan.options == "" and "only this user" in plan.reason
    os.chown(cache, 0, -1)
    os.chown(archive, 65534, -1)
    assert not _plan_archive({}).mapped


# ------------------------------------------------------------ integration

CHILD = r"""
import json
from iot_data_pipeline_spark import session

spark = session.build_session("archive-probe", master="local[1]", shuffle_partitions=1)
rows = (spark.range(1000).selectExpr("id % 7 AS k", "id * 3 AS v")
        .groupBy("k").sum("v").orderBy("k").collect())
pid = spark._jvm.java.lang.ProcessHandle.current().pid()
with open(f"/proc/{pid}/maps") as fh:
    jsa = sorted({ln.split()[-1] for ln in fh if ln.rstrip().endswith(".jsa")})
print(json.dumps({"rows": [list(r) for r in rows], "jvm": pid, "jsa": jsa,
                  "status": session.archive_status}))
"""


def _child(tmp_path: Path) -> tuple[subprocess.CompletedProcess, dict]:
    env = dict(os.environ)
    env["XDG_CACHE_HOME"] = str(tmp_path / "xdg")
    env["PYTHONPATH"] = str(Path(__file__).resolve().parents[1]) + os.pathsep + env.get(
        "PYTHONPATH", ""
    )
    r = subprocess.run([sys.executable, "-c", CHILD], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    return r, json.loads(r.stdout.splitlines()[-1])


def _wait_gone(pid: int, timeout: float = 240.0) -> None:
    """Wait until a JVM the child left behind (writing its archive) exits."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                    return
        except OSError:
            return
        time.sleep(0.5)
    raise AssertionError(f"JVM {pid} still running after {timeout} s")


def _header(path: Path) -> bytes:
    with open(path, "rb") as fh:
        return fh.read(4)


def test_sessions_write_map_and_survive_a_truncated_archive(tmp_path):
    blocker = session._classpath_blocker({})
    if blocker:
        pytest.skip(blocker)
    cache = tmp_path / "xdg" / "iot-data-pipeline-spark"

    r1, out1 = _child(tmp_path)
    _wait_gone(out1["jvm"])
    assert out1["status"].endswith(".part")
    [part] = cache.glob("*.part")
    assert _header(part) == MAGIC

    r2, out2 = _child(tmp_path)
    [archive] = cache.glob("*.jsa")
    assert not list(cache.glob("*.part"))
    assert str(archive.resolve()) in out2["jsa"]
    assert out2["status"] == f"driver JVM class-data archive: mapped {archive}"
    assert out2["rows"] == out1["rows"]
    for r in (r1, r2):
        assert "[cds" not in r.stdout

    # a truncated archive is dropped; the session starts and dumps anew
    os.truncate(archive, archive.stat().st_size - (1 << 20))
    r3, out3 = _child(tmp_path)
    assert out3["rows"] == out1["rows"] and not archive.exists()
    assert "[cds" not in r3.stdout
    _wait_gone(out3["jvm"])

    # a truncated archive whose recorded size matches crashes the JVM at
    # start: the session removes it and starts once more without it
    [part] = cache.glob("*.part")
    os.truncate(part, part.stat().st_size - (1 << 20))
    forged = part.with_name(f"{part.name.split('.')[0]}.{part.stat().st_size}.jsa")
    part.rename(forged)
    _, out4 = _child(tmp_path)
    assert out4["rows"] == out1["rows"] and str(forged.resolve()) not in out4["jsa"]
    assert out4["status"].endswith(".part") and not forged.exists()
    _wait_gone(out4["jvm"])

    # an archive the JVM rejects (here: a wrong format version, the word
    # after the magic and the CRC) is not mapped, and is removed
    [part] = cache.glob("*.part")
    part.chmod(0o600)
    with open(part, "r+b") as fh:
        fh.seek(8)
        fh.write(b"\xff\xff\xff\x7f")
    r5, out5 = _child(tmp_path)
    assert out5["rows"] == out1["rows"] and "[cds" not in r5.stdout
    assert "rejected" in out5["status"] and not list(cache.glob("*.jsa"))
    assert not any(p.startswith(str(cache.resolve())) for p in out5["jsa"])
    shutil.rmtree(cache)
