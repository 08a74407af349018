"""Golden pipeline tests (SURVEY.md section 5.2): the reference's only two
known inputs -- the embedded dummy dataset (reference app/app.py:103-109) and
the README sample (reference README.md:185-189) -- with fixed-clock expected
outputs, plus dirty-data routing semantics.
"""

from __future__ import annotations

import json

import pytest

CLOCK = "2024-01-01T00:00:00Z"

DUMMY_LINES = [
    '{"device_id": "sensor-001", "temperature": 25.5, "humidity": 60}',
    '{"device_id": "sensor-002", "temperature": 30.0, "humidity": 65}',
    '{"device_id": "sensor-003", "temperature": 20.1, "humidity": 55}',
    "this is a bad line",
    '{"device_id": "sensor-004", "humidity": 70}',
]

README_LINES = [
    '{"device_id": "sensor-alpha", "location": "warehouse-A", "temperature": 20.0, "humidity": 55.5, "pressure": 1012.3, "timestamp": "2025-07-11T11:00:00Z"}',
    '{"device_id": "sensor-beta", "location": "warehouse-B", "temperature": 28.1, "humidity": 62.1, "pressure": 1010.5, "timestamp": "2025-07-11T11:01:00Z"}',
    '{"device_id": "sensor-alpha", "location": "warehouse-A", "temperature": 22.5, "humidity": 58.0, "pressure": 1011.8, "timestamp": "2025-07-11T11:02:00Z"}',
    '{"device_id": "sensor-gamma", "location": "server-room-1", "temperature": 18.7, "humidity": 45.0, "pressure": 1013.0, "timestamp": "2025-07-11T11:03:00Z"}',
    '{"device_id": "sensor-beta", "location": "warehouse-B", "temperature": 26.9, "humidity": 60.5, "pressure": 1010.9, "timestamp": "2025-07-11T11:04:00Z"}',
]


def _run(spark, tmp_path, lines, **cfg_kwargs):
    from iot_data_pipeline_spark.pipeline import PipelineConfig, run_batch_pipeline

    src = tmp_path / "in.jsonl"
    src.write_text("\n".join(lines) + "\n")
    out = tmp_path / "out"
    cfg = PipelineConfig(fixed_clock=CLOCK, **cfg_kwargs)
    good, bad = run_batch_pipeline(spark, str(src), str(out), cfg)
    rows = []
    for p in sorted(out.glob("part-*.json")):
        rows += [json.loads(ln) for ln in p.read_text().splitlines() if ln]
    return good, bad, rows


def test_dummy_dataset(spark, tmp_path):
    """4 of 5 records survive; 3 gain temp_fahrenheit (reference section 3.3)."""
    good, bad, rows = _run(spark, tmp_path, DUMMY_LINES)
    assert (good, bad) == (4, 1)
    by_dev = {r["device_id"]: r for r in rows}
    assert by_dev["sensor-001"]["temp_fahrenheit"] == pytest.approx(77.9)
    assert by_dev["sensor-002"]["temp_fahrenheit"] == pytest.approx(86.0)
    assert by_dev["sensor-003"]["temp_fahrenheit"] == pytest.approx(68.18)
    assert "temp_fahrenheit" not in by_dev["sensor-004"]
    # round 10: the sink keeps full microsecond precision (lossless for
    # sub-second clocks; previously truncated to whole seconds)
    assert all(
        r["processed_timestamp"] == "2024-01-01T00:00:00.000000Z" for r in rows
    )


def test_readme_sample(spark, tmp_path):
    """All 5 README records convert: f = c*9/5+32 (reference app/app.py:17)."""
    good, bad, rows = _run(spark, tmp_path, README_LINES)
    assert (good, bad) == (5, 0)
    expect = {20.0: 68.0, 28.1: 82.58, 22.5: 72.5, 18.7: 65.66, 26.9: 80.42}
    for r in rows:
        assert r["temp_fahrenheit"] == pytest.approx(expect[r["temperature"]])


def test_threshold_filter(spark, tmp_path):
    """README-declared: only temperatures above 10 degC pass (README.md:40)."""
    lines = README_LINES + ['{"device_id": "sensor-cold", "temperature": 5.0}']
    good, bad, rows = _run(spark, tmp_path, lines, temperature_threshold=10.0)
    assert good == 5
    assert all(r["temperature"] > 10.0 for r in rows)


def test_enrichment_join(spark, tmp_path):
    """README-declared: location_id from device_id lookup (README.md:13,42)."""
    from iot_data_pipeline_spark.pipeline import PipelineConfig, run_batch_pipeline

    dim = spark.createDataFrame(
        [("sensor-alpha", 101), ("sensor-beta", 102)], ["device_id", "location_id"]
    )
    src = tmp_path / "in.jsonl"
    src.write_text("\n".join(README_LINES) + "\n")
    out = tmp_path / "out"
    run_batch_pipeline(
        spark, str(src), str(out), PipelineConfig(fixed_clock=CLOCK), dim_location=dim
    )
    rows = []
    for p in sorted(out.glob("part-*.json")):
        rows += [json.loads(ln) for ln in p.read_text().splitlines() if ln]
    got = {r["device_id"]: r.get("location_id") for r in rows}
    assert got["sensor-alpha"] == 101
    assert got["sensor-beta"] == 102
    assert got["sensor-gamma"] is None  # left join keeps unmatched


def test_dirty_routing_and_dead_letter(spark, tmp_path):
    """Malformed / non-object / non-numeric-temperature lines go raw to the
    dead letter; blanks are silently skipped (app/app.py:35-37,43-45,62-65)."""
    lines = [
        DUMMY_LINES[0],
        "",
        '"bare string"',
        '{"device_id": "sensor-bad", "temperature": "abc"}',
        "{not json",
    ]
    dlq = tmp_path / "dlq"
    good, bad, rows = _run(spark, tmp_path, lines, dead_letter_path=str(dlq))
    assert (good, bad) == (1, 3)
    bad_rows = {r.raw_line for r in spark.read.parquet(str(dlq)).collect()}
    assert bad_rows == {
        '"bare string"',
        '{"device_id": "sensor-bad", "temperature": "abc"}',
        "{not json",
    }


def test_empty_input(spark, tmp_path):
    """Empty output is legal (reference app/app.py:69-70)."""
    good, bad, rows = _run(spark, tmp_path, [""])
    assert (good, bad, rows) == (0, 0, [])


@pytest.mark.parametrize("with_dead_letter", [False, True])
def test_batch_run_releases_its_parse(spark, tmp_path, with_dead_letter):
    """``run_batch_pipeline`` owns the cache it parses into: the context's
    persistent RDDs are the same after the run as before it, whether or
    not a dead-letter channel is written (the parse used to stay pinned
    for the session's lifetime, one cached input per call). Compared as
    RDD ids, not a count: the context holds persisted RDDs weakly, so a
    JVM GC during the run may drop an earlier test's unreachable
    ``localCheckpoint`` RDD and lower the count."""
    jsc = spark.sparkContext._jsc

    def persisted() -> set[int]:
        return set(jsc.getPersistentRDDs().keySet())

    before = persisted()
    kwargs = {"dead_letter_path": str(tmp_path / "dlq")} if with_dead_letter else {}
    good, bad, _ = _run(spark, tmp_path, DUMMY_LINES, **kwargs)
    assert (good, bad) == (4, 1)
    assert persisted() <= before


def test_clean_input_leaves_readable_empty_dead_letter(spark, tmp_path):
    """No corrupt line, dead letter configured: the channel still exists
    as a readable 0-row dataset with the dead-letter schema."""
    dlq = tmp_path / "dlq"
    good, bad, _ = _run(spark, tmp_path, README_LINES, dead_letter_path=str(dlq))
    assert (good, bad) == (5, 0)
    dead = spark.read.parquet(str(dlq))
    assert dead.count() == 0
    assert dead.columns == ["raw_line", "_ingest_ts"]


def test_batch_run_packs_small_input_and_keeps_a_large_split(spark, tmp_path):
    """The body packs its input to ``ceil(bytes / openCostInBytes)``
    partitions only when that is fewer than the scan's. Four ~1 KB files
    (four scan partitions) are written by one task, so as one part file,
    at Spark's 4 MB open cost. With the open cost set to 64 bytes on a
    session of its own, the same files are far bigger than partitions x
    64 bytes and keep the scan's split: one part file per partition."""
    from iot_data_pipeline_spark.pipeline import PipelineConfig, run_batch_pipeline
    from iot_data_pipeline_spark.sources.readers import SENSOR_SCHEMA, read_jsonl

    src = tmp_path / "in"
    src.mkdir()
    for k in range(4):
        (src / f"f{k}.jsonl").write_text("\n".join(README_LINES) + "\n")
    cheap_open = spark.newSession()
    cheap_open.conf.set("spark.sql.files.openCostInBytes", "64")
    split = read_jsonl(cheap_open, str(src), SENSOR_SCHEMA).rdd.getNumPartitions()
    assert split > 1
    for session, want in ((spark, 1), (cheap_open, split)):
        out = tmp_path / f"out{want}"
        cfg = PipelineConfig(fixed_clock=CLOCK)
        assert run_batch_pipeline(session, str(src), str(out), cfg) == (20, 0)
        assert len(list(out.glob("part-*.json"))) == want
