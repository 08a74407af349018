"""The benchmark's own tests: metric names, failure accounting, and a tiny
smoke run of each workload.

    python -m pytest perfbench/tests -q

The smoke runs start Spark once each (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import bulk  # noqa: E402
import feeder  # noqa: E402
import gen  # noqa: E402
import lake_query  # noqa: E402
import stream_ingest  # noqa: E402
from common import CpuMeter, RunContext, Tracer  # noqa: E402


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


WORKLOADS = [w["name"] for w in _spec()["workloads"]]


def _ctx(tmp_path: Path) -> RunContext:
    return RunContext(workload="test", seed=0, seconds=1.0, trace=False, work=tmp_path,
                      t_process_start=0.0, tracer=Tracer(False))


def _run(args: list[str], cwd: Path) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, str(cwd / "perfbench" / "run.py"), *args], cwd=cwd,
                          capture_output=True, text=True, timeout=300)


def test_benchmark_json_names_every_workload_and_mix_query():
    spec = _spec()
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert all((BENCH / f"{w}.py").is_file() for w in WORKLOADS)
    per_query = {m["name"] for m in spec["per_layer"]
                 if m["name"].startswith("queries.q") or m["name"].startswith("queries.zone_")}
    assert per_query == {f"queries.{name}.s" for name in lake_query.MIX}
    notes = (BENCH / "NOTES.md").read_text()
    untied = [m["name"] for m in spec["per_layer"]
              if f"`{m['name']}`" not in notes and m["name"] not in per_query]
    assert not untied, f"per-layer metrics without a target in NOTES.md: {untied}"


def _log(path: Path, entries: list[tuple[str, int]]) -> None:
    path.write_text("v1\n" + "".join(
        json.dumps({"path": f"file:///lake/raw/{name}", "timestamp": 0, "batchId": b}) + "\n"
        for name, b in entries))


def test_committed_files_reads_compacted_source_log(tmp_path):
    # Spark writes every tenth file-source log entry as <id>.compact,
    # holding the whole history up to that batch.
    src, commits = tmp_path / "sources" / "0", tmp_path / "commits"
    src.mkdir(parents=True)
    commits.mkdir()
    history = [(f"f{b}.jsonl", b) for b in range(12)]
    for name, b in history:
        if b != 9:
            _log(src / str(b), [(name, b)])
    _log(src / "9.compact", history[:10])
    (src / ".9.compact.crc").write_text("")
    (src / "12.tmp").write_text("v1\n")
    for b in range(11):  # batch 11 was read but never committed
        (commits / str(b)).write_text("v1\n{}\n")
    done = stream_ingest.committed_files(tmp_path)
    assert done == {name: b for name, b in history[:11]}


def test_dropped_file_or_row_is_counted_as_a_failure(tmp_path):
    files = gen.render_sensor_files(7, "f", 3, 50)
    due = {f.name: 100.0 + i for i, f in enumerate(files)}
    done = {f.name: 0 for f in files}
    batches = {0: (102.5, 104.0)}
    zone = {f.name: (f.n_pass, f.checksum, f.n_enriched) for f in files}
    dead = {f.name: f.n_malformed for f in files}

    ctx = _ctx(tmp_path)
    latencies, waits = stream_ingest.score_files(ctx, files, done, due, batches, zone, dead)
    assert (ctx.attempted, ctx.failed) == (3, 0)
    assert list(latencies.values()) == [4.0, 3.0, 2.0]
    assert list(waits.values()) == [2.5, 1.5, 0.5]

    del done[files[0].name]  # a file the stream never committed
    n, cents, enriched = zone[files[1].name]
    zone[files[1].name] = (n - 1, cents, enriched)  # a good row lost
    dead[files[2].name] -= 1  # a malformed line lost
    ctx = _ctx(tmp_path)
    latencies, _ = stream_ingest.score_files(ctx, files, done, due, batches, zone, dead)
    assert (ctx.attempted, ctx.failed, latencies) == (3, 3, {})

    want = bulk.expected_outputs(files)
    counts = (want[0], want[3])
    ctx = _ctx(tmp_path)
    assert bulk.check_etl(ctx, "etl", counts, want, want)
    assert ctx.failed == 0
    assert not bulk.check_etl(ctx, "etl", (want[0] - 1, want[3]), want, want)
    assert not bulk.check_etl(ctx, "etl", counts, (want[0] - 1, *want[1:]), want)
    assert ctx.failed == 2

    rows = [("loc-0", 3, 1.5), ("loc-1", None, 2.0)]
    assert lake_query.rows_problems(list(reversed(rows)), rows) == []
    assert lake_query.rows_problems(rows[:1], rows)


def test_feeder_publishes_whole_bursts_on_schedule(tmp_path):
    staging, raw = tmp_path / "staging", tmp_path / "raw"
    staging.mkdir()
    raw.mkdir()
    for i in range(5):
        (staging / f"f-{i}.jsonl").write_text("{}\n")
    start = time.time() + 0.05
    log = feeder.feed(str(staging), str(raw), 2, 0.1, start)
    assert [r["name"] for r in log] == [f"f-{i}.jsonl" for i in range(5)]
    assert [round(r["due"] - start, 6) for r in log] == [0.0, 0.0, 0.1, 0.1, 0.2]
    assert all(r["published"] >= r["due"] for r in log)
    assert sorted(p.name for p in raw.iterdir()) == [r["name"] for r in log]


def test_cpu_meter_counts_this_process_work():
    # The meter reads any process as it reads the driver JVM: here this one.
    meter = CpuMeter(os.getpid())
    before = meter.sample()
    t_end = time.process_time() + 0.3
    while time.process_time() < t_end:
        pass
    used = CpuMeter.since(before, meter.sample())
    # counted twice: once as the Python process, once as its own thread
    assert 0.5 <= used <= 0.8


def test_outside_a_checkout_exits_nonzero_without_a_result(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    proc = _run(["--workload", "stream_ingest", "--seed", "1", "--seconds", "1"], tmp_path)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    proc = _run(["--workload", workload, "--seed", "11", "--seconds", "2",
                 "--trace", str(trace)], ROOT)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stdout[-2000:]
    assert result["attempted"] >= 1
    names = _spec()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in names}
    if trace:
        spans = (ROOT / ".perfbench_traces" / f"{workload}-seed11.jsonl").read_text().splitlines()
        assert {"id", "name", "start", "end", "parent", "op"} <= set(json.loads(spans[0]))
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())
