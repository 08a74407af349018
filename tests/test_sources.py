"""Reader/sink unit behavior: nanos-timestamp normalization, corrupt-record
split, CSV with declared schema, JSONL round trip."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T


def test_events_ts_is_timestamp(spark, sf_dir):
    from iot_data_pipeline_spark.sources.readers import read_table

    events = read_table(spark, sf_dir, "events")
    assert dict(events.dtypes)["ts"] == "timestamp"
    # nanos conversion must preserve ordering and land in the 2024 range
    row = events.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    assert row.lo.year >= 2020 and row.hi.year <= 2030


def test_split_corrupt_blank_lines(spark, tmp_path):
    from iot_data_pipeline_spark.sources.readers import read_jsonl, split_corrupt

    p = tmp_path / "x.jsonl"
    p.write_text('{"device_id": "a", "temperature": 1.0}\n\n[1,2]\n')
    good, bad = split_corrupt(read_jsonl(spark, str(p)))
    assert good.count() == 1
    assert [r.raw_line for r in bad.collect()] == ["[1,2]"]


def test_csv_reader_declared_schema(spark, tmp_path):
    from iot_data_pipeline_spark.sources.readers import read_csv

    p = tmp_path / "x.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    schema = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
    )
    rows = read_csv(spark, str(p), schema).orderBy("a").collect()
    assert [(r.a, r.b) for r in rows] == [(1, "x"), (2, "y")]


def test_parquet_sink_partitioned(spark, tmp_path):
    from iot_data_pipeline_spark.sources.sinks import write_parquet

    df = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "part"])
    out = tmp_path / "pq"
    write_parquet(df, str(out), partition_by=["part"])
    back = spark.read.parquet(str(out))
    assert {(r.id, r.part) for r in back.collect()} == {(1, "x"), (2, "y")}
    assert (out / "part=x").exists()


# ------------------------------------------------------------ maintenance


def test_compact_parquet_reduces_files(spark, sf_dir, tmp_path):
    from iot_data_pipeline_spark.sources.maintenance import compact_parquet
    from iot_data_pipeline_spark.sources.readers import read_table

    frag = str(tmp_path / "fragmented")
    # simulate the reference's one-file-per-event pathology
    read_table(spark, sf_dir, "events").repartition(24).write.parquet(frag)
    out = str(tmp_path / "compacted")
    n = compact_parquet(spark, frag, out, target_file_bytes=64 * 1024 * 1024)
    import glob

    produced = glob.glob(out + "/part-*.parquet")
    assert len(produced) == n < 24
    assert spark.read.parquet(out).count() == spark.read.parquet(frag).count()


def test_schema_evolution_merge(spark, tmp_path):
    """mergeSchema read across files written with different (compatible)
    schemas -- the corpus-grows-a-column case."""
    import pyspark.sql.types as T
    from pyspark.sql import Row

    zone = str(tmp_path / "evolving")
    spark.createDataFrame([Row(id=1, a="x")]).write.parquet(zone + "/batch1")
    spark.createDataFrame([Row(id=2, a="y", b=3.5)]).write.parquet(zone + "/batch2")
    got = (
        spark.read.option("mergeSchema", "true")
        .parquet(zone + "/batch1", zone + "/batch2")
        .orderBy("id")
    )
    assert set(got.columns) == {"id", "a", "b"}
    rows = got.collect()
    assert rows[0]["b"] is None and rows[1]["b"] == 3.5


def test_binary_file_source_to_features(spark, tmp_path):
    """binaryFile ingest (B48 plumbing): glob pushdown at listing, content
    bytes land intact, and the frame feeds extract_features end to end."""
    from iot_data_pipeline_spark.operators.multimodal import extract_features
    from iot_data_pipeline_spark.sources.readers import read_binary_files

    payloads = {f"img_{i}.bin": bytes([i]) * (10 + i) for i in range(4)}
    (tmp_path / "skip.txt").write_text("not media")
    for name, blob in payloads.items():
        (tmp_path / name).write_bytes(blob)

    df = read_binary_files(spark, str(tmp_path), glob="*.bin")
    rows = df.select("path", "length", "content").collect()
    assert len(rows) == 4  # glob filtered skip.txt at the listing
    got = {r["path"].rsplit("/", 1)[-1]: bytes(r["content"]) for r in rows}
    assert got == payloads
    assert all(r["length"] == len(payloads[r["path"].rsplit("/", 1)[-1]])
               for r in rows)

    media = df.select(
        F.monotonically_increasing_id().alias("media_id"), "content"
    )
    feats = extract_features(media, mode="fake", dim=8).collect()
    assert len(feats) == 4
    assert all(len(r["features"]) == 8 for r in feats)


def test_zorder_rewrite_clusters_both_columns(spark, sf_dir, tmp_path):
    """Z-order layout: per-file value spans must shrink on BOTH layout
    columns vs the unclustered baseline (a lexicographic sort only helps
    its leading column)."""
    from iot_data_pipeline_spark.sources.readers import read_table
    from iot_data_pipeline_spark.sources.maintenance import rewrite_zordered

    ev = read_table(spark, sf_dir, "events").select("user_id", "value", "event_id")
    zone = str(tmp_path / "events_z")
    rewrite_zordered(ev, zone, ["user_id", "value"], n_files=8)

    back = spark.read.parquet(zone)
    assert back.count() == ev.count()
    assert {r["event_id"] for r in back.select("event_id").collect()} == {
        r["event_id"] for r in ev.select("event_id").collect()
    }

    spans = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(
            (F.max("user_id") - F.min("user_id")).alias("u_span"),
            (F.max("value") - F.min("value")).alias("v_span"),
        )
        .collect()
    )
    glob = ev.agg(
        (F.max("user_id") - F.min("user_id")).alias("u"),
        (F.max("value") - F.min("value")).alias("v"),
    ).first()
    import statistics

    mean_u = statistics.mean(r["u_span"] for r in spans)
    mean_v = statistics.mean(r["v_span"] for r in spans)
    # 8 z-ordered files ~ 3 bit levels: each file should cover well under
    # the full span on BOTH dimensions (random layout would cover ~100%).
    assert mean_u < 0.7 * glob["u"], (mean_u, glob["u"])
    assert mean_v < 0.7 * glob["v"], (mean_v, glob["v"])


def test_read_jsonl_byte_level_writer_choices(spark, tmp_path):
    """Round-10 probe, frozen: byte-level JSONL writer choices -- a UTF-8
    BOM (Windows notepad/PowerShell), CRLF and bare-CR line endings, and
    a missing trailing newline -- must not cost records or pollute the
    dead-letter channel. The reference's loop DROPS the first record of
    a BOM'd file (``line.strip()`` keeps the BOM, ``json.loads`` raises
    -- reference app/app.py:35-37,60-65); the engine beneficially
    diverges: Jackson strips the BOM and parses the record. UTF-16
    (probed, not frozen here): auto-detection recovers every record with
    one BOM-artifact dead-letter row; Spark's explicit ``encoding``
    option is strictly worse (UTF-16 denylisted in line mode, UTF-16LE +
    lineSep glues the BOM to the first record), so no encoding knob is
    exposed."""
    import json

    from iot_data_pipeline_spark.sources.readers import read_jsonl, split_corrupt

    rec = {
        "device_id": "a", "location": "x", "temperature": 20.0,
        "humidity": 1.0, "pressure": 2.0,
        "timestamp": "2024-01-01T00:00:00Z",
    }
    rec2 = dict(rec, device_id="b")
    raw = json.dumps(rec).encode(), json.dumps(rec2).encode()
    cases = {
        "bom": b"\xef\xbb\xbf" + raw[0] + b"\n" + raw[1] + b"\n",
        "crlf": raw[0] + b"\r\n" + raw[1] + b"\r\n",
        "cr": raw[0] + b"\r" + raw[1] + b"\r",
        "no_trailing_newline": raw[0] + b"\n" + raw[1],
    }
    for name, payload in cases.items():
        p = str(tmp_path / f"{name}.jsonl")
        with open(p, "wb") as f:
            f.write(payload)
        good, bad = split_corrupt(read_jsonl(spark, p))
        ids = sorted(r.device_id for r in good.collect())
        assert ids == ["a", "b"], (name, ids)
        assert bad.count() == 0, name


def test_read_jsonl_duplicate_keys_last_win(spark, tmp_path):
    """Round-10 found-and-fixed: under Spark's default
    mapKeyDedupPolicy=EXCEPTION, a JSONL record with a duplicate key was
    SILENTLY SWALLOWED -- no parsed row, no corrupt-record row, and even
    FAILFAST raised nothing. The engine pins LAST_WIN (session defaults),
    which parses the record with the last value -- the reference's exact
    json.loads semantics (app/app.py:60)."""
    import json

    from iot_data_pipeline_spark.sources.readers import read_jsonl, split_corrupt

    p = str(tmp_path / "dup.jsonl")
    with open(p, "w") as f:
        f.write('{"device_id": "dup", "temperature": 1.0, "temperature": 2.0}\n')
        f.write('{"device_id": "ok", "temperature": 3.0}\n')
    good, bad = split_corrupt(read_jsonl(spark, p))
    got = {(r.device_id, r.temperature) for r in good.collect()}
    assert got == {("dup", 2.0), ("ok", 3.0)}, got
    assert bad.count() == 0
    # reference parity: json.loads last-wins
    assert json.loads(
        '{"device_id": "dup", "temperature": 1.0, "temperature": 2.0}'
    )["temperature"] == 2.0


def test_jsonl_fieldless_records_dropped(spark, tmp_path):
    """Round-11 probe, behavior pinned: Spark's JSON source skips
    blank/whitespace lines at the scan (no row at all -- the historical
    docstring premise that blanks yield all-NULL rows no longer holds),
    so split_corrupt's all-NULL drop governs FIELD-LESS records: {},
    all-explicit-null objects, unknown-fields-only objects. Documented
    divergence: the reference keeps such dicts (output would be a bare
    processed_timestamp record); the engine's schema contract drops
    them. Non-dict top-level values still dead-letter (A5 parity)."""
    from iot_data_pipeline_spark.sources.readers import read_jsonl, split_corrupt

    p = str(tmp_path / "degen.jsonl")
    with open(p, "w") as f:
        f.write("\n")
        f.write("   \n")
        f.write("{}\n")
        f.write('{"device_id":null}\n')
        f.write('{"unknown_field":1}\n')
        f.write("null\n")
        f.write("[1,2]\n")
        f.write('{"device_id":"ok"}\n')
    raw = read_jsonl(spark, p)
    assert raw.count() == 6, "blank/whitespace lines never surface as rows"
    good, bad = split_corrupt(raw)
    assert [r.device_id for r in good.collect()] == ["ok"]
    assert bad.count() == 2  # null and [1,2]: non-object top level


def test_jsonl_invalid_utf8_dead_letters_not_crash(spark, tmp_path):
    """Round-11 probe, beneficial divergence pinned: the reference
    decodes each line OUTSIDE its try block
    (``line_bytes.decode('utf-8')``, app/app.py:34 vs the try at
    app/app.py:38), so ONE invalid-UTF-8 line crashes its whole job
    with UnicodeDecodeError -- no output, no dead letter. The engine
    routes such lines to the corrupt-record channel (U+FFFD-replaced
    raw text preserved for triage) and every valid record still flows."""
    from iot_data_pipeline_spark.sources.readers import read_jsonl, split_corrupt

    p = str(tmp_path / "badutf.jsonl")
    with open(p, "wb") as f:
        f.write(b'{"device_id":"ok1","temperature":1.5}\n')
        f.write(b'{"device_id":"bad\xff\xfe","temperature":2.5}\n')
        f.write(b"\xc3\x28 not json\n")
        f.write(b'{"device_id":"ok2","temperature":3.5}\n')
    # reference parity check of the crash itself
    import pytest as _pytest

    with _pytest.raises(UnicodeDecodeError):
        for line_bytes in open(p, "rb"):
            line_bytes.decode("utf-8")  # the reference's exact move
    good, bad = split_corrupt(read_jsonl(spark, p))
    assert {(r.device_id, r.temperature) for r in good.collect()} == {
        ("ok1", 1.5),
        ("ok2", 3.5),
    }
    assert bad.count() == 2


def test_jsonl_nonfinite_numbers_reference_parity(spark, tmp_path):
    """Round-11 probe band: the reference's ``json.loads`` accepts the
    non-standard ``NaN``/``Infinity``/``-Infinity`` tokens, and an
    overflowing numeric literal (``1e400``) parses to inf rather than
    erroring (app/app.py:60). Spark's reader matches on every case
    (``allowNonNumericNumbers`` default) -- pinned here so a conf or
    Spark-version change cannot silently dead-letter records the
    reference accepts. Sink divergence, documented as BENEFICIAL: the
    sink encodes non-finite doubles as quoted strings ("NaN" -- valid
    JSON any parser reads) where the reference's ``json.dumps`` emits
    bare ``NaN`` tokens (invalid JSON per RFC 8259); the engine's own
    write -> read round-trip recovers the exact double values."""
    import json
    import math

    from iot_data_pipeline_spark.sources.readers import read_jsonl, split_corrupt
    from iot_data_pipeline_spark.sources.sinks import write_jsonl

    lines = [
        '{"device_id":"d1","temperature":NaN}',
        '{"device_id":"d2","temperature":Infinity}',
        '{"device_id":"d3","temperature":-Infinity}',
        '{"device_id":"d4","temperature":1e400}',
    ]
    for line in lines:  # reference accepts every one
        json.loads(line)
    p = str(tmp_path / "nonfinite.jsonl")
    with open(p, "w") as f:
        f.write("\n".join(lines) + "\n")
    good, bad = split_corrupt(read_jsonl(spark, p))
    got = {r.device_id: r.temperature for r in good.collect()}
    assert bad.count() == 0, "reference parses these; dead-lettering diverges"
    assert math.isnan(got["d1"])
    assert got["d2"] == math.inf and got["d3"] == -math.inf
    assert got["d4"] == math.inf  # overflow -> inf, same as json.loads
    out = str(tmp_path / "out")
    write_jsonl(good.coalesce(1), out)
    back, bad2 = split_corrupt(read_jsonl(spark, out))
    rt = {r.device_id: r.temperature for r in back.collect()}
    assert bad2.count() == 0
    assert math.isnan(rt["d1"]) and rt["d2"] == math.inf
    assert rt["d3"] == -math.inf and rt["d4"] == math.inf


def test_write_jsonl_subsecond_timestamps_lossless(spark, tmp_path):
    """Round-10 found-and-fixed: the JSONL sink's seconds-only timestamp
    format silently truncated sub-second timestamps on write (and even
    Spark's default keeps only millis); the sink now renders full
    microseconds, so write -> read round-trips the exact instant."""
    import datetime

    from pyspark.sql import Row, types as T

    from iot_data_pipeline_spark.sources.readers import read_jsonl
    from iot_data_pipeline_spark.sources.sinks import write_jsonl

    ts = datetime.datetime(2024, 1, 1, 0, 0, 0, 123456)
    df = spark.createDataFrame([Row(device_id="a", timestamp=ts)])
    out = str(tmp_path / "out")
    write_jsonl(df.coalesce(1), out)
    schema = T.StructType(
        [
            T.StructField("device_id", T.StringType()),
            T.StructField("timestamp", T.TimestampType()),
        ]
    )
    back = read_jsonl(spark, out, schema, keep_corrupt=False)
    assert [r.timestamp for r in back.collect()] == [ts]
    # the NTZ twin renders through the SEPARATE timestampNTZFormat
    # option (round-11 probe: the round-10 fix covered only LTZ and NTZ
    # columns still truncated to millis)
    ntz_schema = T.StructType(
        [
            T.StructField("device_id", T.StringType()),
            T.StructField("timestamp", T.TimestampNTZType()),
        ]
    )
    ndf = spark.createDataFrame([("a", ts)], schema=ntz_schema)
    out2 = str(tmp_path / "out_ntz")
    write_jsonl(ndf.coalesce(1), out2)
    import glob as _glob

    [part] = _glob.glob(f"{out2}/part-*")
    assert ".123456" in open(part).read()
    back2 = read_jsonl(spark, out2, ntz_schema, keep_corrupt=False)
    assert [r.timestamp for r in back2.collect()] == [ts]
    # both column types in ONE write: each renders through its own
    # option, and neither may truncate the other to millis
    mixed_schema = T.StructType(
        [
            T.StructField("device_id", T.StringType()),
            T.StructField("ts_ltz", T.TimestampType()),
            T.StructField("ts_ntz", T.TimestampNTZType()),
        ]
    )
    mdf = spark.createDataFrame([("a", ts, ts)], schema=mixed_schema)
    out3 = str(tmp_path / "out_mixed")
    write_jsonl(mdf.coalesce(1), out3)
    back3 = read_jsonl(spark, out3, mixed_schema, keep_corrupt=False)
    assert [(r.ts_ltz, r.ts_ntz) for r in back3.collect()] == [(ts, ts)]


def test_read_csv_embedded_newlines(spark, tmp_path):
    """Round-10 found-and-fixed: the engine's own CSV write -> read_csv
    round-trip silently corrupted records whose quoted fields contain
    newlines (field truncated at the newline + phantom NULL continuation
    rows, hidden by PERMISSIVE). multiline=True round-trips exactly;
    line mode with keep_corrupt=True surfaces the continuation fragments
    in the dead-letter channel instead of passing them as NULL rows."""
    from pyspark.sql import Row, types as T

    from iot_data_pipeline_spark.sources.readers import read_csv, split_corrupt

    rows = [
        Row(id=1, txt="plain"),
        Row(id=2, txt="embedded\nnewline"),
        Row(id=3, txt='quote " and, comma'),
        Row(id=4, txt="crlf\r\nline"),
    ]
    d = str(tmp_path / "csv")
    spark.createDataFrame(rows).write.option("header", "true").csv(d)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("txt", T.StringType())]
    )

    back = read_csv(spark, d, schema, multiline=True)
    assert {(r.id, r.txt) for r in back.collect()} == {
        (r.id, r.txt) for r in rows
    }

    # line mode + tripwire: corruption is detected, not silent
    good, bad = split_corrupt(read_csv(spark, d, schema, keep_corrupt=True))
    assert bad.count() > 0
    assert good.filter("id IS NULL").count() == 0


def test_partitioned_sink_adversarial_values(spark, tmp_path):
    """Round-10 probe, frozen: hive-partition VALUES that need directory
    escaping (space, slash, colon, percent, equals, unicode,
    leading/trailing blanks) round-trip exactly through Spark's
    partitioned write+read; empty string is PINNED to its known Hive
    behavior -- it shares ``__HIVE_DEFAULT_PARTITION__`` with NULL and
    comes back as NULL (documented in write_parquet; normalize '' to a
    sentinel when it is a meaningful key)."""
    from pyspark.sql import Row

    from iot_data_pipeline_spark.sources.sinks import write_parquet

    vals = [
        "plain", "has space", "a/b slash", "colon:val", "per%cent",
        "uni-ü-中", "eq=val", "dot.", "  lead-trail  ", None,
    ]
    df = spark.createDataFrame([Row(k=v, x=i) for i, v in enumerate(vals)])
    d = str(tmp_path / "zone")
    write_parquet(df, d, partition_by=("k",))
    got = {(r.k, r.x) for r in spark.read.parquet(d).collect()}
    assert got == {(v, i) for i, v in enumerate(vals)}

    # empty string: pinned Hive semantics -- round-trips as NULL
    df2 = spark.createDataFrame([Row(k="", x=0), Row(k="real", x=1)])
    d2 = str(tmp_path / "zone2")
    write_parquet(df2, d2, partition_by=("k",))
    got2 = {(r.k, r.x) for r in spark.read.parquet(d2).collect()}
    assert got2 == {(None, 0), ("real", 1)}


def test_read_table_case_colliding_columns_fail_loudly(spark, tmp_path):
    """Round-10 (r9 ADVICE): a writer emitting columns that differ only
    by case must fail AT THE READ BOUNDARY with the colliding names in
    the message -- not as a later ambiguous-reference error far from the
    cause. Under the default case-insensitive resolution Spark itself
    rejects such a footer (COLUMN_ALREADY_EXISTS) before read_table's
    rename; the guard's live path is a case-SENSITIVE session, where the
    scan succeeds and the lowercase normalization would otherwise mint
    duplicate names silently."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from iot_data_pipeline_spark.sources.readers import read_table

    d = str(tmp_path)
    tab = pa.table(
        {"Id": pa.array([1], pa.int64()), "ID": pa.array([2], pa.int64())}
    )
    pq.write_table(tab, f"{d}/part.parquet")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        with pytest.raises(ValueError, match=r"part.*collide.*\['id'\]"):
            read_table(spark, d, "part")
    finally:
        spark.conf.set("spark.sql.caseSensitive", "false")


def test_seed_zone_schema_empty_then_real_data(spark, tmp_path):
    """The 0-row schema seed makes an empty partitioned zone readable, is
    typed by the partition directory encoding, folds away once real
    partitions land, and re-seeding is idempotent."""
    from pyspark.sql import functions as F

    from iot_data_pipeline_spark.sources.sinks import seed_zone_schema

    zone = str(tmp_path / "zone")
    df = spark.range(4).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias("v"),
        (F.col("id") % 2).alias("batch_id"),
    )

    # seed alone: readable, correct schema, 0 rows; the numeric sentinel
    # keeps the partition column integral (partition DISCOVERY types it --
    # int, the same type real batch_id=N directories infer to)
    seed_zone_schema(df, zone, "batch_id", seed_value=-2)
    got = spark.read.parquet(zone)
    assert got.count() == 0
    assert dict(got.dtypes)["batch_id"] == "int"
    assert set(got.columns) == {"k", "v", "batch_id"}

    # real partitions coexist with the seed; aggregates are unaffected
    df.write.mode("append").partitionBy("batch_id").parquet(zone)
    seed_zone_schema(df, zone, "batch_id", seed_value=-2)  # idempotent
    got = spark.read.parquet(zone)
    assert got.count() == 4
    assert got.agg(F.sum("k")).first()[0] == 6


def test_corrupt_parquet_fails_loudly(spark, tmp_path):
    """Posture pin (round 8): a truncated/corrupt parquet file must fail
    the read, never silently shrink the dataset. Spark's
    ignoreCorruptFiles stays at its default (false) in the engine conf:
    at 100 TB one corrupted object silently dropped is an invisible
    correctness hole, while a loud failure is a retryable incident.
    (The JSONL surface is different by design: the reference's
    log-and-drop contract routes bad LINES to the dead letter -- file-
    level corruption of a columnar format has no per-row recovery.)"""
    import shutil

    import pytest as _pytest

    from iot_data_pipeline_spark.sources.readers import read_table

    src = "/root/testdata/sf0.001/lineitem.parquet"
    dst = tmp_path / "lineitem.parquet"
    data = open(src, "rb").read()
    dst.write_bytes(data[: len(data) // 2])
    with _pytest.raises(Exception):
        read_table(spark, str(tmp_path), "lineitem").count()


def test_empty_part_file_is_transparent(spark, tmp_path):
    """A 0-row, schema-only part file inside a multi-file table (a
    routine artifact of upstream jobs with empty partitions) must not
    change any result or fail the scan."""
    import pyarrow.parquet as pq

    tab = pq.read_table("/root/testdata/sf0.001/orders.parquet")
    d = tmp_path / "orders.parquet"
    d.mkdir()
    pq.write_table(tab, str(d / "part-000.parquet"))
    pq.write_table(tab.slice(0, 0), str(d / "part-999.parquet"))

    from iot_data_pipeline_spark.sources.readers import read_table

    assert read_table(spark, str(tmp_path), "orders").count() == tab.num_rows
