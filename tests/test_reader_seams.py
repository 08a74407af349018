"""Round-11 reader seams: object-store routing (pyarrow.fs) for the
footer pass, recursive/partitioned pruning, UTC-equivalent session
zones, bounds pushdown and the table schema cache of ``read_table``.

The sandbox has no real S3; remote-scheme behavior is proven the way
test_object_store.py proves Spark's: ``file://`` URIs exercise the full
``pyarrow.fs.FileSystem.from_uri`` -> list -> remote-footer-read ->
respell pipeline (LocalFileSystem is just another pyarrow filesystem on
that path), and unknown schemes pin the conservative skip."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iot_data_pipeline_spark.sources.readers import (
    _list_parquet_files,
    _pafs_for,
    _prune_files_for_ts_bounds,
    _session_tz_is_utc,
    read_table,
)


def _split_events(sf_dir: str, root: str, n_files: int = 8) -> pa.Table:
    """Write events as an n-file date-ordered corpus under root."""
    src = pq.read_table(f"{sf_dir}/events.parquet").sort_by("ts")
    os.makedirs(root, exist_ok=True)
    n = src.num_rows
    cut = [round(k * n / n_files) for k in range(n_files + 1)]
    for k in range(n_files):
        pq.write_table(
            src.slice(cut[k], cut[k + 1] - cut[k]),
            os.path.join(root, f"part-{k:03d}.parquet"),
        )
    return src


def test_session_tz_is_utc_equivalence():
    for tz in ("UTC", "Etc/UTC", "GMT", "Zulu", "+00:00", "-00", "UTC+0",
               "GMT+00:00", "+0000"):
        assert _session_tz_is_utc(tz), tz
    for tz in ("Asia/Tokyo", "Pacific/Kiritimati", "+01:00", "UTC+09:00",
               "Africa/Abidjan", "Europe/London", ""):
        assert not _session_tz_is_utc(tz), tz


def test_pruner_via_file_uri(spark, sf_dir, tmp_path):
    """file:// URI drives the whole pyarrow.fs pipeline: from_uri,
    FileSelector listing, filesystem= footer reads, URI respell. The
    pruned read answers identically to the post-filter form."""
    d = str(tmp_path)
    _split_events(sf_dir, os.path.join(d, "events.parquet"))
    lo, hi = "2024-01-10", "2024-01-12"
    pruned = _prune_files_for_ts_bounds(
        spark,
        f"file://{d}/events.parquet",
        {"ts": [(">=", lo), ("<", hi)]},
    )
    assert pruned is not None and 0 < len(pruned) < 8
    assert all(p.startswith("file://") or p.startswith("/") for p in pruned)
    bnd = read_table(spark, f"file://{d}", "events", bounds={"ts": (lo, hi)})
    post = read_table(spark, d, "events").filter(
        (F.col("ts") >= lo) & (F.col("ts") < hi)
    )
    assert bnd.count() == post.count() > 0


def test_pruner_skips_unknown_scheme(spark):
    """Spark-only schemes pyarrow cannot resolve (viewfs://) skip
    conservatively -- pruning is an optimization, never a failure."""
    pruned = _prune_files_for_ts_bounds(
        spark,
        "viewfs://testcell/data/events.parquet",
        {"ts": [("<", "2035-01-01")]},
    )
    assert pruned is None


def test_pruner_utc_equivalent_session_still_prunes(spark, sf_dir, tmp_path):
    """Round-10 ADVICE: the exact-string "UTC" gate forfeited pruning for
    equivalent zones. Etc/UTC prunes; a genuinely offset zone skips."""
    d = str(tmp_path)
    _split_events(sf_dir, os.path.join(d, "events.parquet"))
    preds = {"ts": [(">=", "2024-01-10"), ("<", "2024-01-12")]}
    try:
        spark.conf.set("spark.sql.session.timeZone", "Etc/UTC")
        assert _prune_files_for_ts_bounds(
            spark, f"{d}/events.parquet", preds
        )
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        assert (
            _prune_files_for_ts_bounds(
                spark, f"{d}/events.parquet", preds
            )
            is None
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_pruner_recursive_partitioned_layout(spark, sf_dir, tmp_path):
    """Partitioned/nested layouts prune too (the round-10 pass listed
    non-recursively and silently skipped them), and the explicit-file
    read keeps inferring the partition column (basePath)."""
    src = pq.read_table(f"{sf_dir}/events.parquet").sort_by("ts")
    d = str(tmp_path)
    root = os.path.join(d, "events.parquet")
    n = src.num_rows
    cut = [round(k * n / 8) for k in range(9)]
    for k in range(8):
        pdir = os.path.join(root, f"shard={k % 2}")
        os.makedirs(pdir, exist_ok=True)
        pq.write_table(
            src.slice(cut[k], cut[k + 1] - cut[k]),
            os.path.join(pdir, f"part-{k:03d}.parquet"),
        )
    lo, hi = "2024-01-10", "2024-01-12"
    pruned = _prune_files_for_ts_bounds(
        spark, root, {"ts": [(">=", lo), ("<", hi)]}
    )
    assert pruned is not None and 0 < len(pruned) < 8
    bnd = read_table(spark, d, "events", bounds={"ts": (lo, hi)})
    assert "shard" in bnd.columns, "partition column must survive pruning"
    post = read_table(spark, d, "events").filter(
        (F.col("ts") >= lo) & (F.col("ts") < hi)
    )
    assert bnd.count() == post.count() > 0
    assert (
        bnd.filter(F.col("shard").isNull()).count() == 0
    ), "partition values must not NULL-backfill"


def test_pruner_hidden_segments_excluded(spark, sf_dir, tmp_path):
    """The pruner must never hand Spark a file its own listing would
    hide: _-/.-prefixed files and directories are excluded, so the
    pruned read equals the directory read."""
    d = str(tmp_path)
    root = os.path.join(d, "events.parquet")
    src = _split_events(sf_dir, root)
    # decoys Spark's listing hides: would double rows if included
    pq.write_table(src, os.path.join(root, "_tmp.parquet"))
    hdir = os.path.join(root, "_temporary")
    os.makedirs(hdir)
    pq.write_table(src, os.path.join(hdir, "part-x.parquet"))
    fs, p = _pafs_for(root)
    files = _list_parquet_files(fs, p)
    assert len(files) == 8, files
    full = read_table(spark, d, "events")
    bnd = read_table(
        spark, d, "events", bounds={"ts": (None, "2035-01-01")}
    )
    assert bnd.count() == full.count() == src.num_rows


def _ts_table(ids, unit: str, tz: str | None = None) -> pa.Table:
    base = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z in micros
    scale = {"us": 1, "ns": 1000}[unit]
    return pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "ts": pa.array(
                [(base + i * 86_400_000_000) * scale for i in ids],
                pa.timestamp(unit, tz=tz),
            ),
            "v": pa.array([float(i) for i in ids], pa.float64()),
        }
    )


def _split_lineitem(sf_dir: str, root: str, statsless: tuple[int, ...] = (),
                    per_column=None) -> None:
    src = pq.read_table(f"{sf_dir}/lineitem.parquet").sort_by("l_shipdate")
    os.makedirs(root)
    n = src.num_rows
    cut = [round(k * n / 8) for k in range(9)]
    for k in range(8):
        stats = True
        if k in statsless:
            stats = per_column if per_column is not None else False
        pq.write_table(
            src.slice(cut[k], cut[k + 1] - cut[k]),
            os.path.join(root, f"part-{k:03d}.parquet"),
            write_statistics=stats,
        )


def test_stats_absent_mix_prunes_around(spark, sf_dir, tmp_path):
    """Round-11 probe band (tools/stats_absence_probe.py, historical: since
    deleted): files written
    with statistics disabled are KEPT unconditionally while the
    stats-bearing out-of-range files around them still prune, and the
    bounded result matches the post-filter form exactly."""
    d = str(tmp_path)
    root = os.path.join(d, "lineitem.parquet")
    _split_lineitem(sf_dir, root, statsless=(2, 5))
    lo, hi = "1996-01-01", "1996-07-01"
    preds = {"l_shipdate": [(">=", lo), ("<", hi)]}
    keep = _prune_files_for_ts_bounds(spark, root, preds)
    assert keep is not None and len(keep) < 8
    kept = {os.path.basename(p) for p in keep}
    assert {"part-002.parquet", "part-005.parquet"} <= kept, kept
    bnd = read_table(spark, d, "lineitem", bounds={"l_shipdate": (lo, hi)})
    post = read_table(spark, d, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    assert bnd.count() == post.count() > 0


def test_pruner_all_statsless_degrades(spark, sf_dir, tmp_path):
    """No file carries stats -> pruning degrades to None (full read),
    never to a wrong answer."""
    d = str(tmp_path)
    root = os.path.join(d, "lineitem.parquet")
    _split_lineitem(sf_dir, root, statsless=tuple(range(8)))
    lo, hi = "1996-01-01", "1996-07-01"
    keep = _prune_files_for_ts_bounds(
        spark, root, {"l_shipdate": [(">=", lo), ("<", hi)]}
    )
    assert keep is None
    bnd = read_table(spark, d, "lineitem", bounds={"l_shipdate": (lo, hi)})
    post = read_table(spark, d, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    assert bnd.count() == post.count() > 0


def test_mixed_encoding_bounded_subset(spark, sf_dir, tmp_path):
    """Round-11 probe band: a single table directory MIXING us-UTC and
    nanos encodings of the same ts column fails LOUD when the column
    materializes (r10 posture held), but a bound that file-prunes the
    read to a homogeneous subset succeeds and is exact -- pruning only
    drops files that provably cannot match, so every matching row lives
    in the surviving subset."""
    import pyarrow.compute as pc

    src = pq.read_table(f"{sf_dir}/events.parquet").sort_by("ts")
    n = src.num_rows
    d = str(tmp_path)
    root = os.path.join(d, "events.parquet")
    os.makedirs(root)
    i = src.column_names.index("ts")
    for g, (sl, unit, tz) in enumerate(
        ((src.slice(0, n // 2), "us", "UTC"), (src.slice(n // 2), "ns", None))
    ):
        sl = sl.set_column(i, "ts", sl.column("ts").cast(pa.timestamp(unit, tz=tz)))
        m = sl.num_rows
        for k in range(2):
            pq.write_table(
                sl.slice(k * m // 2, m // 2 + (m % 2) * k),
                os.path.join(root, f"g{g}-part{k}.parquet"),
            )
    with pytest.raises(Exception, match="DATA_TYPE_MISMATCH|convert"):
        read_table(spark, d, "events").agg(F.min("ts")).collect()
    q1 = src.column("ts")[n // 4].as_py().strftime("%Y-%m-%d %H:%M:%S")
    bnd = read_table(spark, d, "events", bounds={"ts": (None, q1)})
    exp = pc.sum(pc.less(src.column("ts"), src.column("ts")[n // 4])).as_py()
    assert bnd.count() == exp > 0


def test_hadoop_scheme_aliases_and_respell():
    """Spark object-store tables are usually named s3a:// (the Hadoop
    connector); the footer passes alias that to pyarrow's s3:// handle
    (same bytes, different client) and respell results back in the
    caller's scheme so Spark reads through its own connector. In this
    sandbox from_uri's region lookup has no network, so resolution lands
    on the conservative (None, None) skip -- structurally pinned here;
    never an exception."""
    from iot_data_pipeline_spark.sources.readers import (
        _SCHEME_ALIASES,
        _respell,
    )

    assert _SCHEME_ALIASES["s3a"] == "s3"
    assert _SCHEME_ALIASES["s3n"] == "s3"
    assert "wasb" not in _SCHEME_ALIASES  # authority layout differs
    assert (
        _respell(
            "s3a://bucket/t.parquet",
            "bucket/t.parquet",
            "bucket/t.parquet/p.parquet",
        )
        == "s3a://bucket/t.parquet/p.parquet"
    )
    assert _respell(
        "file:///d/t.parquet", "/d/t.parquet", "/d/t.parquet/p.parquet"
    ) == ("file:///d/t.parquet/p.parquet")
    assert _respell(
        "/d/t.parquet", "/d/t.parquet", "/d/t.parquet/p.parquet"
    ) == ("/d/t.parquet/p.parquet")
    # bare-file table: the root IS the file
    assert (
        _respell("s3a://b/f.parquet", "b/f.parquet", "b/f.parquet")
        == "s3a://b/f.parquet"
    )
    # no-network resolution failure -> conservative skip, not an error
    fs, p = _pafs_for("s3a://bucket/t.parquet")
    assert (fs, p) == (None, None) or p == "bucket/t.parquet"


def test_azure_scheme_posture():
    """Round-12 posture decision (r11 verdict item 3): pyarrow >= 16
    resolves ``abfs://``/``abfss://`` natively (AzureFileSystem), so
    those URIs get footer passes -- and ``_respell`` must keep the
    ``container@account.host`` AUTHORITY, which is NOT part of the
    fs-local path (the round-11 scheme-prefix rebuild silently dropped
    the account from every pruned re-read URI). The legacy blob-endpoint
    ``wasb://`` and fsspec-style ``az://`` spellings are unresolvable
    and skip footer passes conservatively."""
    from iot_data_pipeline_spark.sources.readers import _respell

    uri = "abfs://cont@acct.dfs.core.windows.net/lake/tbl"
    fs, root = _pafs_for(uri)
    if fs is not None:  # pyarrow built with Azure support
        assert type(fs).__name__ == "AzureFileSystem"
        assert root == "cont/lake/tbl"
        # authority survives the respell of a listed file
        assert (
            _respell(uri, root, "cont/lake/tbl/x=1/part-0.parquet")
            == "abfs://cont@acct.dfs.core.windows.net/lake/tbl/x=1/part-0.parquet"
        )
    # unresolvable Azure spellings: conservative skip, never an exception
    assert _pafs_for("wasb://c@a.blob.core.windows.net/t") == (None, None)
    assert _pafs_for("az://cont/t") == (None, None)
    # a path that escaped its root is a logic error -> loud, not guessed
    with pytest.raises(ValueError, match="not under table root"):
        _respell(uri, "cont/lake/tbl", "cont/other/part-0.parquet")


def test_pruner_keeps_extensionless_files(spark, sf_dir, tmp_path):
    """Round-11 probe: Spark's directory listing reads EVERY visible
    file -- Hive-written parquet is classically extensionless
    (``000000_0``) -- but the pruner's listing filtered on ``*.parquet``,
    so an extensionless data file silently vanished from every pruned
    explicit-file read (measured: 200 in-bounds rows -> 100). Pin: the
    listing matches Spark's semantics and the bounded read is exact."""
    src = pq.read_table(f"{sf_dir}/events.parquet").sort_by("ts")
    n = src.num_rows
    d = str(tmp_path)
    root = os.path.join(d, "events.parquet")
    os.makedirs(root)
    cut = [round(k * n / 4) for k in range(5)]
    names = ["part-0.parquet", "part-1.parquet", "000000_0", "000001_0"]
    for k, name in enumerate(names):
        pq.write_table(
            src.slice(cut[k], cut[k + 1] - cut[k]), os.path.join(root, name)
        )
    fs, p = _pafs_for(root)
    files = _list_parquet_files(fs, p)
    assert len(files) == 4, files
    # bounds covering the back half: both extensionless files carry rows
    lo = src.column("ts")[cut[2]].as_py().strftime("%Y-%m-%d %H:%M:%S")
    keep = _prune_files_for_ts_bounds(
        spark, root, {"ts": [(">=", lo)]}
    )
    assert keep is not None, "date-split corpus must prune"
    assert any(os.path.basename(f) == "000000_0" for f in keep), keep
    bnd = read_table(spark, d, "events", bounds={"ts": (lo, None)})
    post = read_table(spark, d, "events").filter(F.col("ts") >= lo)
    assert bnd.count() == post.count() > 0
    read_files = " ".join(bnd.inputFiles())
    assert "000001_0" in read_files, read_files


def test_nanos_bounds_beyond_horizon_saturate(spark, tmp_path):
    """Round-11 probe: a bound past the int64-nanos horizon (2262-04-11)
    overflowed the micros*1000 literal -- ARITHMETIC_OVERFLOW under ANSI,
    and under ANSI-off a silent wrap that kept 0 of the matching rows
    (and the mirrored lo-bound kept rows it must not). Every stored
    nanos value fits int64 by construction, so the comparison saturates
    to a constant instead."""
    d = str(tmp_path)
    root = os.path.join(d, "events.parquet")
    os.makedirs(root)
    pq.write_table(_ts_table([0, 1], "ns"), f"{root}/a.parquet")
    pq.write_table(_ts_table([2, 3], "ns"), f"{root}/b.parquet")
    assert dict(spark.read.parquet(root).dtypes)["ts"] == "bigint"
    cases = (
        ({"ts": ("1970-01-01", "2300-01-01")}, 4),  # hi beyond: open
        ({"ts": ("2290-01-01", None)}, 0),  # lo beyond: empty
        ({"ts": (("=", "2300-06-01"),)}, 0),  # = beyond: empty
        ({"ts": (None, "1600-01-01")}, 0),  # hi below -horizon: empty
        ({"ts": ("1600-01-01", "2023-11-16")}, 2),  # lo below: open
    )
    for bounds, want in cases:
        got = read_table(spark, d, "events", bounds=bounds).count()
        assert got == want, (bounds, got, want)


def test_nanos_saturation_classifier():
    from iot_data_pipeline_spark.sources.readers import _nanos_saturation

    assert _nanos_saturation("2300-01-01", True) == "high"
    assert _nanos_saturation("1600-01-01", True) == "low"
    assert _nanos_saturation("2262-04-11 23:00:00", True) is None
    assert _nanos_saturation("2024-01-01", True) is None
    assert _nanos_saturation(1234, True) is None  # non-string: Spark-side
    # non-UTC sessions: one-day margin, sliver raises (a tz can shift
    # the true literal by up to ~14h either way)
    assert _nanos_saturation("2300-01-01", False) == "high"
    assert _nanos_saturation("2024-01-01", False) is None
    with pytest.raises(ValueError, match="horizon"):
        _nanos_saturation("2262-04-11 12:00:00", False)


def test_discrete_bound_literals_rewrite_exactly(spark, tmp_path):
    """Round-11 probe: ``lit(v).cast(dtype)`` is lossy on discrete
    dtypes -- out-of-range DECIMAL bounds cast to NULL under ANSI-off
    (silently kept 0 rows; ANSI: loud), fractional bounds on integers
    truncate toward zero (``< 2.5`` dropped v=2, ``>= 2.5`` kept it),
    sub-day bounds on DATE columns truncate to the day (dropped the
    whole matching day). Bounds now rewrite to equivalent exact
    comparisons (_normalize_bound)."""
    from datetime import date
    from decimal import Decimal

    d = str(tmp_path)
    root = os.path.join(d, "lineitem.parquet")
    os.makedirs(root)
    t = pa.table(
        {
            "l_quantity": pa.array(list(range(100)), pa.int64()),
            "l_shipdate": pa.array(
                [date(1996, 1, 1 + i % 28) for i in range(100)], pa.date32()
            ),
            "l_extendedprice": pa.array(
                [Decimal(f"{100 + i}.50") for i in range(100)],
                pa.decimal128(12, 2),
            ),
        }
    )
    pq.write_table(t.slice(0, 50), f"{root}/a.parquet")
    pq.write_table(t.slice(50), f"{root}/b.parquet")
    raw = spark.read.parquet(root)
    assert dict(raw.dtypes)["l_shipdate"] == "date"
    cases = (
        ({"l_quantity": (None, 2.5)}, 3),  # v < 2.5 == v <= 2
        ({"l_quantity": (2.5, None)}, 97),  # v >= 2.5 == v >= 3
        ({"l_quantity": (("=", 2.5),)}, 0),  # unrepresentable =: empty
        ({"l_quantity": (None, 1e20)}, 100),  # beyond int64: open
        ({"l_quantity": (1e20, None)}, 0),  # beyond int64: empty
        ({"l_extendedprice": (None, 1e11)}, 100),  # beyond DECIMAL(12,2)
        ({"l_extendedprice": (1e11, None)}, 0),
        ({"l_extendedprice": (None, "150.505")}, 51),  # v <= 150.50
        ({"l_extendedprice": ("150.505", None)}, 49),  # v >= 150.51
        # sub-day bound on a DATE column: v <= Jan 3 / v >= Jan 4
        ({"l_shipdate": (None, "1996-01-03 12:00:00")}, 12),
        ({"l_shipdate": ("1996-01-03 12:00:00", None)}, 88),
        ({"l_shipdate": (("=", "1996-01-03 12:00:00"),)}, 0),
        # exactly-representable bounds keep their semantics
        ({"l_quantity": (2, 5)}, 3),
        ({"l_shipdate": ("1996-01-03", None)}, 92),
    )
    for bounds, want in cases:
        got = read_table(spark, d, "lineitem", bounds=bounds).count()
        assert got == want, (bounds, got, want)
    # wide decimals: the floor needs ~60 significant digits -- the
    # default decimal context (28) would round or raise
    from iot_data_pipeline_spark.sources.readers import _normalize_bound

    wide = "19999999999999999999.123456789012345678"
    assert _normalize_bound("<", Decimal(wide), "decimal(38,18)")[0] == "<"
    assert _normalize_bound("<", wide + "5", "decimal(38,18)")[0] == "<="
    assert _normalize_bound("<", "1e21", "decimal(38,18)") == ("drop",)
    # the rewritten comparisons stay bare attribute-vs-literal: pushed
    bnd = read_table(spark, d, "lineitem", bounds={"l_quantity": (None, 2.5)})
    plan = bnd._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "l_quantity" in plan.split(
        "PushedFilters: ["
    )[1].split("]")[0], plan


def _date32_orders(sf_dir: str, root: str, n_files: int = 4) -> None:
    """Write orders as an n-file o_orderdate-ordered DATE32 corpus (the
    Hive/Trino writer default encoding for date-granular columns)."""
    src = pq.read_table(f"{sf_dir}/orders.parquet").sort_by("o_orderdate")
    idx = src.schema.get_field_index("o_orderdate")
    src = src.set_column(
        idx, "o_orderdate", src.column(idx).cast(pa.date32())
    )
    os.makedirs(root, exist_ok=True)
    n = src.num_rows
    cut = [round(k * n / n_files) for k in range(n_files + 1)]
    for k in range(n_files):
        pq.write_table(
            src.slice(cut[k], cut[k + 1] - cut[k]),
            os.path.join(root, f"part-{k:03d}.parquet"),
            store_schema=False,
        )


def test_date32_canonical_column_normalizes_and_prunes(spark, sf_dir, tmp_path):
    """Round-12 probe axis (SCALE.md section 7e): a DATE32-encoded
    canonical timestamp column (a) normalizes to TIMESTAMP at the read
    boundary (midnight UTC -- the contract's logical type, so downstream
    date_trunc/interval/projection types stay layout-invariant), and
    (b) FILE-prunes from its date footer statistics (previously
    _stat_to_micros returned None on datetime.date stats -> keep-all)."""
    d = str(tmp_path / "sf")
    os.makedirs(d)
    _date32_orders(sf_dir, f"{d}/orders.parquet")
    df = read_table(spark, d, "orders")
    assert dict(df.dtypes)["o_orderdate"] == "timestamp"
    lo, hi = "1995-01-01", "1995-06-01"
    bounded = read_table(
        spark, d, "orders", bounds={"o_orderdate": (lo, hi)}
    )
    post = df.filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    assert bounded.count() == post.count() > 0
    # the pruner must actually drop out-of-range files
    read_files = bounded.inputFiles()
    assert 0 < len(read_files) < 4
    # values identical to the timestamp-encoded layout
    canon = read_table(spark, sf_dir, "orders", bounds={"o_orderdate": (lo, hi)})
    assert sorted(r["o_orderkey"] for r in bounded.collect()) == sorted(
        r["o_orderkey"] for r in canon.collect()
    )


def test_date_bounds_datetime_spelling_exact(spark, sf_dir, tmp_path):
    """Round-11 ADVICE: _normalize_bound's date rewrite gated on str, so
    a datetime bound with sub-day time still silently truncated through
    lit().cast('date'). Both spellings must now agree exactly."""
    from datetime import datetime

    d = str(tmp_path / "sf")
    os.makedirs(d)
    _date32_orders(sf_dir, f"{d}/orders.parquet", n_files=2)
    # noon bound: '< 1995-06-02 12:00' must KEEP the whole day 1995-06-02
    s_rows = read_table(
        spark, d, "orders",
        bounds={"o_orderdate": ((">=", "1995-01-01"), ("<", "1995-06-02 12:00:00"))},
    ).count()
    dt_rows = read_table(
        spark, d, "orders",
        bounds={"o_orderdate": (
            (">=", datetime(1995, 1, 1)), ("<", datetime(1995, 6, 2, 12)))},
    ).count()
    truth = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1995-06-02 12:00:00")
    ).count()
    assert s_rows == dt_rows == truth > 0


def test_nanos_saturation_datetime_spelling():
    """Round-11 ADVICE: the horizon classifier gated on str literals, so
    a datetime bound beyond the int64-nanos horizon reached the *1000
    multiply (overflow / silent wrap). Datetime and pandas spellings now
    classify identically to their string forms."""
    from datetime import datetime

    import pandas as pd

    from iot_data_pipeline_spark.sources.readers import _nanos_saturation

    assert _nanos_saturation(datetime(2300, 1, 1), True) == "high"
    assert _nanos_saturation(pd.Timestamp("2300-01-01"), True) == "high"
    assert _nanos_saturation(datetime(1400, 1, 1), True) == "low"
    assert _nanos_saturation(datetime(2000, 1, 1), True) is None
    # parity with the string spellings
    assert _nanos_saturation("2300-01-01", True) == "high"
    assert _nanos_saturation("1400-01-01", True) == "low"


def _partitioned_mixed_events(tmp_path) -> str:
    """events table with hive-partition VALUES spanning types: batch=01
    (int-like, early ts) next to batch=abc (string, late ts)."""
    root = str(tmp_path / "sf" / "events.parquet")
    base = 1_700_000_000_000_000
    for d, ids in (("batch=01", [0, 1]), ("batch=abc", [30, 31])):
        os.makedirs(f"{root}/{d}", exist_ok=True)
        tab = pa.table(
            {
                "id": pa.array(ids, pa.int64()),
                "ts": pa.array(
                    [base + i * 86_400_000_000 for i in ids],
                    pa.timestamp("us"),
                ),
                "value": pa.array([float(i) for i in ids], pa.float64()),
            }
        )
        pq.write_table(tab, f"{root}/{d}/part-0.parquet", store_schema=False)
    return str(tmp_path / "sf")


def test_pruned_read_partition_type_parity(spark, tmp_path):
    """Round-12 found-and-fixed: Spark infers a partition column's TYPE
    from the values in the file index, so a bounds-PRUNED explicit-file
    read re-ran inference over only the surviving values -- a table with
    batch=01 next to batch=abc answered string '01' unbounded but int 1
    bounded (different value AND type from the same table). The pruned
    read must be bit-identical to the whole-table read."""
    d = _partitioned_mixed_events(tmp_path)
    full = read_table(spark, d, "events")
    assert dict(full.dtypes)["batch"] == "string"
    lo, hi = "2023-11-14", "2023-11-17"
    bnd = read_table(spark, d, "events", bounds={"ts": (lo, hi)})
    assert dict(bnd.dtypes)["batch"] == "string"
    assert len(bnd.inputFiles()) == 1  # pruning itself must survive
    assert sorted((r["id"], r["batch"]) for r in bnd.collect()) == [
        (0, "01"),
        (1, "01"),
    ]


def test_pruned_read_sets_no_session_conf(spark, tmp_path, monkeypatch):
    """The partition-type parity of a bounds-pruned read comes from the
    whole-table schema, not from switching partition-type inference off
    on the session: another thread's read on the same session would plan
    with inference off while the switch is held."""
    from pyspark.sql.conf import RuntimeConfig

    d = _partitioned_mixed_events(tmp_path)
    read_table(spark, d, "events")  # fill the schema cache
    keys = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        keys.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    bnd = read_table(spark, d, "events", bounds={"ts": ("2023-11-14", "2023-11-17")})
    assert len(bnd.inputFiles()) == 1  # the explicit-file path ran
    assert dict(bnd.dtypes)["batch"] == "string"
    assert "spark.sql.sources.partitionColumnTypeInference.enabled" not in keys


def test_pruner_skips_empty_row_groups_exactly(spark, tmp_path):
    """Round-12 found-and-fixed: a 0-row row group (a streaming writer's
    empty-batch flush) carries no statistics, and the stats-less
    keep-gate force-kept its whole file -- an entirely-empty file could
    never be pruned, silently degrading file pruning to keep-everything
    on corpora with such artifacts. Empty row groups now skip exactly
    (they provably contain no matching row); empty files prune."""
    root = str(tmp_path / "sf" / "events.parquet")
    os.makedirs(root)
    base = 1_700_000_000_000_000

    def tab(ids):
        return pa.table(
            {
                "id": pa.array(ids, pa.int64()),
                "ts": pa.array(
                    [base + i * 86_400_000_000 for i in ids],
                    pa.timestamp("us"),
                ),
                "value": pa.array([float(i) for i in ids], pa.float64()),
            }
        )

    # file A: 0-row row group SANDWICHED between data groups (early ts)
    w = pq.ParquetWriter(f"{root}/a.parquet", tab([0]).schema)
    w.write_table(tab([0, 1]))
    w.write_table(tab([]))
    w.write_table(tab([2, 3]))
    w.close()
    pq.write_table(tab([30, 31]), f"{root}/b.parquet")  # late ts
    pq.write_table(tab([]), f"{root}/c.parquet")  # entirely empty
    d = str(tmp_path / "sf")
    lo, hi = "2023-12-13", "2023-12-16"  # only file B's range
    bnd = read_table(spark, d, "events", bounds={"ts": (lo, hi)})
    post = read_table(spark, d, "events").filter(
        (F.col("ts") >= lo) & (F.col("ts") < hi)
    )
    assert bnd.count() == post.count() == 2
    files = " ".join(bnd.inputFiles())
    assert "b.parquet" in files and len(bnd.inputFiles()) == 1
    # a bound matching file A keeps it (data groups still gate exactly;
    # base is 22:13Z, so ids 0,1,2 land inside [11-14, 11-17))
    lo2, hi2 = "2023-11-14", "2023-11-17"
    bnd2 = read_table(spark, d, "events", bounds={"ts": (lo2, hi2)})
    assert bnd2.count() == 3
    assert "a.parquet" in " ".join(bnd2.inputFiles())


def _partitioned_ts_table(spark, root: str, groups, coalesce: int = 1):
    """Write a partitioned events table via the ENGINE session (so the
    writer-side confs under test apply); groups = ((ids, batch), ...)."""
    rows = [(i, b) for ids, b in groups for i in ids]
    base = 1_700_000_000_000_000
    df = (
        spark.createDataFrame(rows, "id long, batch string")
        .withColumn(
            "ts",
            F.timestamp_micros(
                F.col("id") * F.lit(86_400_000_000) + F.lit(base)
            ),
        )
        .withColumn("value", F.col("id").cast("double"))
    )
    df.coalesce(coalesce).write.mode("overwrite").partitionBy("batch").parquet(root)


def test_engine_written_timestamps_are_prunable(spark, tmp_path):
    """Round-12 found-and-fixed: Spark's own default
    spark.sql.parquet.outputTimestampType is legacy INT96, whose min/max
    statistics are untrustworthy by parquet spec (pyarrow hides them) --
    so every timestamp-bearing lake the ENGINE ITSELF wrote was immune
    to its own file pruner. The session now pins TIMESTAMP_MICROS:
    footers carry INT64 with ordered stats, and a bounded re-read of an
    engine-written zone actually prunes."""
    d = str(tmp_path / "sf")
    root = f"{d}/events.parquet"
    _partitioned_ts_table(
        spark, root, (([0, 1], "early"), ([30, 31], "late")), coalesce=2
    )
    import glob as _glob

    f0 = _glob.glob(f"{root}/batch=early/*.parquet")[0]
    rg = pq.ParquetFile(f0).metadata.row_group(0)
    phys = {
        rg.column(i).path_in_schema: rg.column(i).physical_type
        for i in range(rg.num_columns)
    }
    assert phys["ts"] == "INT64", phys  # not INT96
    assert rg.column(list(phys).index("ts")).statistics.has_min_max
    bnd = read_table(
        spark, d, "events", bounds={"ts": ("2023-11-14", "2023-11-17")}
    )
    assert bnd.count() == 2
    assert len(bnd.inputFiles()) < len(
        read_table(spark, d, "events").inputFiles()
    ), "engine-written zone must file-prune under bounds"


def test_pruned_read_globmeta_and_escaped_partition_dirs(spark, tmp_path):
    """Round-12 found-and-fixed: Spark's multi-path read GLOB-expands
    every explicit path. Spark's own writer percent-escapes glob chars
    in partition dir names, but Hive's escaping set differs -- a
    foreign-written dir with a literal [ crashed the bounded read
    (PATH_NOT_FOUND) and a literal * re-globbed. Engine explicit lists
    are now glob-escaped; Spark-escaped specials (space, =, unicode, %)
    keep round-tripping through the pruned path too."""
    d = str(tmp_path / "sf")
    root = f"{d}/events.parquet"
    _partitioned_ts_table(
        spark,
        root,
        (([0, 1], "a b"), ([30, 31], "x=y"), ([60, 61], "плюс+%")),
    )
    # foreign writer: rename to literal glob metachars
    import glob as _glob

    [esc] = _glob.glob(f"{root}/batch=x%3Dy")
    os.rename(esc, f"{root}/batch=x[1]")
    full = read_table(spark, d, "events")
    assert full.count() == 6
    # narrow bound -> explicit read of the literal-[ dir (was PATH_NOT_FOUND)
    bnd = read_table(
        spark, d, "events", bounds={"ts": ("2023-12-13", "2023-12-16")}
    )
    assert sorted((r["id"], r["batch"]) for r in bnd.collect()) == [
        (30, "x[1]"),
        (31, "x[1]"),
    ]
    assert len(bnd.inputFiles()) == 1
    # Spark-escaped specials round-trip through the pruned path
    bnd2 = read_table(
        spark, d, "events", bounds={"ts": ("2023-11-14", "2023-11-17")}
    )
    assert sorted(set(r["batch"] for r in bnd2.collect())) == ["a b"]
    assert len(bnd2.inputFiles()) == 1


def test_pruner_distributed_branch_above_64_files(spark, sf_dir, tmp_path):
    """The footer passes DISTRIBUTE above 64 files (parallelize + pickled
    pyarrow filesystem) -- the branch a 100 TB table always takes, and
    the only branch no small fixture exercises. 72 date-ordered files:
    the distributed pass must prune exactly like the driver-side one,
    through a file:// URI so the pickled-fs path is the one under test."""
    d = str(tmp_path)
    root = os.path.join(d, "events.parquet")
    _split_events(sf_dir, root, n_files=72)
    lo, hi = "2024-01-10", "2024-01-12"
    pruned = _prune_files_for_ts_bounds(
        spark,
        f"file://{root}",
        {"ts": [(">=", lo), ("<", hi)]},
    )
    assert pruned is not None and 0 < len(pruned) < 72
    bnd = read_table(spark, f"file://{d}", "events", bounds={"ts": (lo, hi)})
    post = read_table(spark, d, "events").filter(
        (F.col("ts") >= lo) & (F.col("ts") < hi)
    )
    assert bnd.count() == post.count() > 0
    assert len(bnd.inputFiles()) == len(pruned)


def test_explicit_files_schema_cache_and_loud_fallback(spark, tmp_path):
    """Round-12 ADVICE closed (two findings at _read_explicit_files):

    - the partition-type parity pass re-listed the WHOLE table on every
      pruned read; its whole-table schema now comes from the table
      schema cache that ``read_table`` uses, keyed by the table's
      listing (clearing the cache only frees entries);
    - the broad fallback when that pass fails now WARNS instead of
      silently reverting to subset-local partition-type inference.
    """
    import warnings

    from iot_data_pipeline_spark.sources import readers as R

    root = str(tmp_path / "cached_tbl")
    os.makedirs(f"{root}/a=1")
    t = pa.table({"x": pa.array([1, 2], pa.int64())})
    pq.write_table(t, f"{root}/a=1/p.parquet")
    df = R._read_explicit_files(spark, root, [f"{root}/a=1/p.parquet"])
    assert dict(df.dtypes)["a"] == "int"
    assert root in R._SCHEMA_CACHE
    # cache is CONSULTED on the next read: poison the entry (same
    # fingerprint) and observe the partition type follow it (no
    # monkeypatching of spark.read)
    key, _schema = R._SCHEMA_CACHE[root]
    R._SCHEMA_CACHE[root] = (
        key,
        T.StructType(
            [T.StructField("x", T.LongType()), T.StructField("a", T.StringType())]
        ),
    )
    df2 = R._read_explicit_files(spark, root, [f"{root}/a=1/p.parquet"])
    assert dict(df2.dtypes)["a"] == "string"
    R._SCHEMA_CACHE.clear()
    df3 = R._read_explicit_files(spark, root, [f"{root}/a=1/p.parquet"])
    assert dict(df3.dtypes)["a"] == "int"

    # loud fallback: a table ROOT carrying a glob metachar defeats the
    # whole-table metadata pass (Spark glob-expands the root; the
    # engine's directory-path read of such a table fails the same way,
    # so this only arises on explicit-file entry points) -- the subset
    # still reads correctly, with a RuntimeWarning naming the hazard
    # instead of the old silent revert
    gd = str(tmp_path / "tbl[1]")
    os.makedirs(f"{gd}/a=1")
    pq.write_table(t, f"{gd}/a=1/p.parquet")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        df4 = R._read_explicit_files(spark, gd, [f"{gd}/a=1/p.parquet"])
        assert sorted(r["x"] for r in df4.collect()) == [1, 2]
    msgs = [str(x.message) for x in w if x.category is RuntimeWarning]
    assert any("partition-type parity" in m for m in msgs)


def test_stale_schema_cache_reinfers_on_type_flipping_spelling(
    spark, tmp_path
):
    """Round-14 ADVICE closed: a directory added after the cached
    inference with a spelling the cached type cannot hold (cached INT
    for ``a``, new dir ``a=1x``) must not cast to NULL; an uncached
    read re-infers STRING. The new directory's file changes the table's
    listing, so the cache misses and the whole table is re-inferred."""
    from iot_data_pipeline_spark.sources import readers as R

    root = str(tmp_path / "flip_tbl")
    os.makedirs(f"{root}/a=1")
    t = pa.table({"x": pa.array([1, 2], pa.int64())})
    pq.write_table(t, f"{root}/a=1/p.parquet")
    R._SCHEMA_CACHE.clear()
    df = R._read_explicit_files(spark, root, [f"{root}/a=1/p.parquet"])
    assert dict(df.dtypes)["a"] == "int"  # cache now holds INT for a

    # the staleness event: a NEW directory with a non-integer spelling
    os.makedirs(f"{root}/a=1x")
    pq.write_table(t, f"{root}/a=1x/p.parquet")
    df2 = R._read_explicit_files(
        spark, root, [f"{root}/a=1/p.parquet", f"{root}/a=1x/p.parquet"]
    )
    assert dict(df2.dtypes)["a"] == "string"
    got = sorted((r["a"], r["x"]) for r in df2.collect())
    assert got == [("1", 1), ("1", 2), ("1x", 1), ("1x", 2)]  # no NULLs
    # and the refreshed entry, the root's only one, types it STRING
    _key, schema = R._SCHEMA_CACHE[root]
    assert isinstance(schema["a"].dataType, T.StringType)
    R._SCHEMA_CACHE.clear()


def _write_events(root: str, part: str, name: str, xs: list[int], day: str):
    import datetime as dt

    os.makedirs(f"{root}/a={part}", exist_ok=True)
    ts = dt.datetime.fromisoformat(day)
    pq.write_table(
        pa.table(
            {
                "x": pa.array(xs, pa.int64()),
                "ts": pa.array([ts] * len(xs), pa.timestamp("us")),
            }
        ),
        f"{root}/a={part}/{name}.parquet",
    )


def test_schema_cache_second_read_runs_no_job(spark, tmp_path, count_jobs):
    """A second ``read_table`` of an unchanged table skips Spark's
    schema-inference job: 0 jobs, against at least 1 for the first."""
    from iot_data_pipeline_spark.sources.readers import read_table

    _write_events(str(tmp_path / "events.parquet"), "1", "p0", [1, 2], "2026-01-01")
    first, jobs1 = count_jobs(lambda: read_table(spark, str(tmp_path), "events"))
    second, jobs2 = count_jobs(lambda: read_table(spark, str(tmp_path), "events"))
    assert jobs1 >= 1
    assert jobs2 == 0
    assert second.dtypes == first.dtypes
    assert sorted(second.collect()) == sorted(first.collect())


@pytest.mark.parametrize("bounded", [False, True], ids=["plain", "pruned"])
def test_schema_cache_sees_new_files_and_flipping_spelling(
    spark, tmp_path, bounded
):
    """Between two reads, a file added to an existing partition gives its
    rows, and a new partition directory whose spelling flips the
    partition type (``a=1x`` after ``a=1``) re-infers STRING with no
    NULL partition values -- on the plain read and on the bounds-pruned
    explicit-file read alike."""
    from iot_data_pipeline_spark.sources.readers import read_table

    root = str(tmp_path / "events.parquet")
    _write_events(root, "1", "old", [0], "2020-06-01")  # pruned when bounded
    _write_events(root, "1", "p0", [1, 2], "2026-01-01")
    bounds = {"ts": ("2025-01-01", None)} if bounded else None

    def rows():
        df = read_table(spark, str(tmp_path), "events", bounds=bounds)
        return dict(df.dtypes)["a"], sorted((r["a"], r["x"]) for r in df.collect())

    old = [] if bounded else [(0,)]
    typ, got = rows()
    assert typ == "int"
    assert got == sorted([(1, x) for (x,) in old] + [(1, 1), (1, 2)])

    _write_events(root, "1", "p1", [3], "2026-01-02")
    typ, got = rows()
    assert typ == "int"
    assert got == sorted([(1, x) for (x,) in old] + [(1, 1), (1, 2), (1, 3)])

    _write_events(root, "1x", "p2", [4], "2026-01-03")
    typ, got = rows()
    assert typ == "string"
    assert got == sorted(
        [("1", x) for (x,) in old] + [("1", 1), ("1", 2), ("1", 3), ("1x", 4)]
    )


def test_schema_cache_follows_inference_confs(spark, tmp_path):
    """Flipping an inference conf between two reads of one table gives
    each conf's schema, never the cached one: a TIMESTAMP(NANOS) column
    is BIGINT under ``nanosAsLong`` and refused without it, and a BINARY
    column is STRING only under ``binaryAsString``."""
    from iot_data_pipeline_spark.sources.readers import read_table

    root = tmp_path / "nanos_tbl.parquet"
    root.mkdir()
    pq.write_table(
        pa.table(
            {
                "t": pa.array([1_700_000_000_000_000_123], pa.timestamp("ns")),
                "b": pa.array([b"ab"], pa.binary()),
            }
        ),
        str(root / "p.parquet"),
    )
    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    binary = "spark.sql.parquet.binaryAsString"
    assert spark.conf.get(nanos) == "true"
    old_binary = spark.conf.get(binary)

    def dtypes():
        return dict(read_table(spark, str(tmp_path), "nanos_tbl").dtypes)

    try:
        assert dtypes() == {"t": "bigint", "b": "binary"}
        spark.conf.set(nanos, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            dtypes()
        spark.conf.set(nanos, "true")
        spark.conf.set(binary, "true")
        assert dtypes() == {"t": "bigint", "b": "string"}
        spark.conf.set(binary, "false")
        assert dtypes() == {"t": "bigint", "b": "binary"}
    finally:
        spark.conf.set(nanos, "true")
        spark.conf.set(binary, old_binary)


def test_schema_cache_reads_still_self_join(spark, tmp_path):
    """Each cached read is a fresh relation with fresh attribute IDs, so
    two ``read_table`` calls of one table join on their own columns
    (shared IDs would make ``l.x < r.x`` compare a column with itself)."""
    from iot_data_pipeline_spark.sources.readers import read_table

    _write_events(
        str(tmp_path / "events.parquet"), "1", "p0", [1, 2, 3], "2026-01-01"
    )
    read_table(spark, str(tmp_path), "events")  # fill the cache
    left = read_table(spark, str(tmp_path), "events")
    right = read_table(spark, str(tmp_path), "events")
    pairs = left.join(right, left.x < right.x).select(left.x, right.x.alias("y"))
    assert sorted((r["x"], r["y"]) for r in pairs.collect()) == [
        (1, 2),
        (1, 3),
        (2, 3),
    ]


def test_schema_cache_keeps_column_order_of_overlapping_partition(
    spark, tmp_path
):
    """A partition column that is also a data column sits at its data
    position when Spark infers the schema, but at the end under a given
    schema. Such a table is not cached, so every read keeps the inferred
    column order."""
    from iot_data_pipeline_spark.sources import readers as R

    os.makedirs(tmp_path / "ov.parquet" / "a=1")
    pq.write_table(
        pa.table({"a": pa.array([1], pa.int32()), "x": pa.array([5], pa.int64())}),
        str(tmp_path / "ov.parquet" / "a=1" / "p.parquet"),
    )
    first = R.read_table(spark, str(tmp_path), "ov")
    second = R.read_table(spark, str(tmp_path), "ov")
    assert first.columns == second.columns == ["a", "x"]
    assert str(tmp_path / "ov.parquet") not in R._SCHEMA_CACHE


def test_pruned_read_keeps_column_order_of_overlapping_partition(
    spark, tmp_path
):
    """A bounds-pruned read of a table whose partition column is also a
    data column returns the whole-table read's columns and types, in its
    order (a schema-given read would put the partition column last)."""
    import datetime as dt

    root = tmp_path / "events.parquet"
    for a, day in ((1, "2020-06-01"), (2, "2026-01-01")):
        os.makedirs(root / f"a={a}")
        pq.write_table(
            pa.table(
                {
                    "a": pa.array([a], pa.int32()),
                    "x": pa.array([5], pa.int64()),
                    "ts": pa.array([dt.datetime.fromisoformat(day)], pa.timestamp("us")),
                }
            ),
            str(root / f"a={a}" / "p.parquet"),
        )
    full = read_table(spark, str(tmp_path), "events")
    bnd = read_table(spark, str(tmp_path), "events", bounds={"ts": ("2025-01-01", None)})
    assert len(bnd.inputFiles()) == 1
    assert bnd.dtypes == full.dtypes
    assert bnd.columns == ["a", "x", "ts"]
    assert [(r["a"], r["x"]) for r in bnd.collect()] == [(2, 5)]
