"""Seeded input generators for the benchmark workloads.

Everything here is plain Python + numpy + pyarrow: the engine never runs
during generation, and the same seed always yields byte-identical inputs.
Each sensor file comes with the counts a correct pipeline must reproduce
(good rows after the threshold filter, malformed lines, and an integer
checksum of ``temp_fahrenheit`` in hundredths of a degree).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

#: The README threshold the pipeline filters on (temperature > 10 degC).
THRESHOLD = 10.0
N_DEVICES = 50
#: dim_location covers devices 0..39, so about 80% of rows enrich.
N_DIM_DEVICES = 40
MALFORMED_SHARE = 0.02
MISSING_TEMP_SHARE = 0.05

_MALFORMED = (
    "this is a bad line {i}",
    '{{"device_id": "dev-{i:04d}", "temperature": ',
    '{{"device_id": "dev-{i:04d}", "temperature": "hot", "humidity": 40.0}}',
    '"a bare json string {i}"',
)


@dataclass(frozen=True)
class SensorFile:
    """One rendered JSONL file and the answers a correct run must give."""

    name: str
    body: bytes
    n_lines: int
    n_malformed: int
    n_pass: int  # valid rows with temperature > THRESHOLD
    n_enriched: int  # passing rows whose device has a dim_location entry
    checksum: int  # sum of round(temp_fahrenheit * 100) over passing rows


def dim_location_rows() -> list[tuple[str, str]]:
    """(device_id, location_id) rows of the enrichment dimension."""
    return [(f"dev-{d:04d}", f"loc-{d % 7}") for d in range(N_DIM_DEVICES)]


def render_sensor_file(
    rng: np.random.Generator, name: str, n_lines: int, t0_micros: int
) -> SensorFile:
    """Render ``n_lines`` JSONL lines, about 2% of them malformed."""
    device = rng.integers(0, N_DEVICES, n_lines)
    # temperature in hundredths of a degree: -5.00 .. 45.00 degC
    centi = rng.integers(-500, 4501, n_lines)
    has_temp = rng.random(n_lines) >= MISSING_TEMP_SHARE
    malformed = rng.random(n_lines) < MALFORMED_SHARE
    kind = rng.integers(0, len(_MALFORMED), n_lines)
    humidity = rng.integers(1000, 9000, n_lines)
    pressure = rng.integers(95000, 105000, n_lines)
    ts = t0_micros + np.cumsum(rng.integers(1, 2_000_000, n_lines))
    stamps = np.datetime_as_string(ts.astype("datetime64[us]"), unit="us")

    lines = []
    for dev, c, temp_ok, bad, k, h, p, stamp in zip(
        device.tolist(), centi.tolist(), has_temp.tolist(), malformed.tolist(),
        kind.tolist(), humidity.tolist(), pressure.tolist(), stamps.tolist(),
    ):
        if bad:
            lines.append(_MALFORMED[k].format(i=dev))
            continue
        temp = f'"temperature": {c / 100:.2f}, ' if temp_ok else ""
        lines.append(
            f'{{"device_id": "dev-{dev:04d}", "location": "site-{dev % 9}", '
            f'{temp}"humidity": {h / 100:.2f}, "pressure": {p / 100:.2f}, '
            f'"timestamp": "{stamp}Z"}}'
        )
    ok = ~malformed & has_temp & (centi > int(THRESHOLD * 100))
    # round(t * 9 / 5 + 32, 2) in hundredths is round((9k + 16000) / 5):
    # the remainder mod 5 is never a tie, so floor((x + 2) / 5) is exact.
    cents = (9 * centi[ok].astype(np.int64) + 16000 + 2) // 5
    return SensorFile(
        name=name,
        body=("\n".join(lines) + "\n").encode(),
        n_lines=n_lines,
        n_malformed=int(malformed.sum()),
        n_pass=int(ok.sum()),
        n_enriched=int((ok & (device < N_DIM_DEVICES)).sum()),
        checksum=int(cents.sum()),
    )


def render_sensor_files(
    seed: int, prefix: str, n_files: int, lines_per_file: int
) -> list[SensorFile]:
    rng = np.random.default_rng(seed)
    t0 = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z
    return [
        render_sensor_file(
            rng, f"{prefix}-{i:05d}.jsonl", lines_per_file, t0 + i * 10**10
        )
        for i in range(n_files)
    ]


def write_files(files: list[SensorFile], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for f in files:
        with open(os.path.join(directory, f.name), "wb") as fh:
            fh.write(f.body)


# ---------------------------------------------------------------- lake tables

_TOKENS = (
    "a the data spark stream batch window join key value row column table "
    "query scan filter group agg sort hash merge order part line customer "
    "vector fast slow big small"
).split()
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("blue", "hot", "small", "old", "red", "new", "cold", "large")
_PART_NOUN = ("bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "gizmo")
_PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
_LANGS = ("de", "en", "es", "fr", "zh")
_LANG_P = (0.14, 0.44, 0.14, 0.13, 0.15)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _dates(rng: np.random.Generator, start: str, days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def lake_tables(seed: int, scale: float) -> dict:
    """The ten lake tables (TPC-H-shaped star + events, documents and
    embeddings) as pyarrow tables. ``scale=0.01`` gives 60k lineitem rows."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(200, int(1_500_000 * scale))
    n_li = n_ord * 4
    n_ev = max(500, int(1_000_000 * scale))
    n_users = max(20, int(15_000 * scale))
    n_docs = max(50, int(50_000 * scale))
    n_emb = max(50, int(50_000 * scale))

    def pick(options, n, p=None):
        return pa.array(np.asarray(options, dtype=object)[rng.choice(len(options), n, p=p)])

    t: dict = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(_REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pick(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = rng.integers(0, len(_PART_ADJ), n_part)
    noun = rng.integers(0, len(_PART_NOUN), n_part)
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pick(_PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": pick(("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(_dates(rng, "1995-01-01", 2404, n_ord), pa.timestamp("us")),
            "o_orderpriority": pick(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pick(("A", "N", "R"), n_li),
            "l_linestatus": pick(("F", "O"), n_li),
            "l_shipdate": pa.array(_dates(rng, "1995-01-02", 2498, n_li), pa.timestamp("us")),
        }
    )
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)
    ).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": pick(_EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(60.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [
        " ".join(np.asarray(_TOKENS)[rng.integers(0, len(_TOKENS), n)])
        for n in rng.integers(8, 100, n_docs)
    ]
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": pick(_LANGS, n_docs, p=_LANG_P),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    emb = rng.normal(0.0, 0.1, (n_emb, 64)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return t


def write_lake(seed: int, scale: float, directory: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    for name, table in lake_tables(seed, scale).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
