"""Seeded input generators for the benchmark.

Two kinds of input, both written under a work directory inside the
checkout:

- ``tables``: the ten star-schema tables the query registry reads
  (``schemas.TESTDATA_TABLES``), with the column names, types and value
  shapes of the synthetic testdata in FIXTURES.md §4, sized by a
  scale factor. Written once per checkout from a fixed seed, so that the
  stored expected outputs stay valid.
- ``fan_input``: the fan-engagement JSONL shards and the country CSV the
  paper's dataflow reads, written per run from its ``--seed`` and carrying
  the FIXTURES.md §1/§2 edge cases at fixed rates.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64


def _us(ts: str) -> int:
    return int(datetime.fromisoformat(ts).replace(tzinfo=timezone.utc).timestamp() * 1_000_000)


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    lo_us, hi_us = _us(lo), _us(hi)
    day = 86_400_000_000
    return lo_us + rng.integers(0, (hi_us - lo_us) // day + 1, n) * day


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for _ in range(n):
        # about 5% are planted near-duplicates: an earlier text plus "dup"
        if texts and rng.random() < 0.05:
            base = texts[int(rng.integers(0, len(texts)))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def make_tables(sf: float, seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    """The ten registry tables at scale factor ``sf`` (lineitem has
    6,000,000 x sf rows, as in the FIXTURES.md §4 testdata)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}"
                   for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_days(rng, n_line, "1995-01-02", "2001-11-04")),
    })
    span_us = 30 * 86_400_000_000
    gaps = rng.exponential(span_us / n_ev, n_ev)
    ts = _us("2024-01-01") + np.cumsum(gaps).astype("int64") % span_us
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(np.sort(ts)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_doc)
    emb = rng.standard_normal((n_emb, EMBED_DIM)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def _publish(tmp: str, final: str) -> None:
    """Rename a fully written directory into place; a concurrent or
    interrupted writer never leaves a half-written ``final``."""
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(final):
            raise


def ensure_tables(work: str, sf: float) -> str:
    """Write the registry tables once per checkout; return their directory."""
    final = os.path.join(work, f"tables-sf{sf}-seed{TABLE_SEED}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for name, table in make_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    _publish(tmp, final)
    return final


# --- fan-engagement input (FIXTURES.md §1 and §2) ---

COUNTRY_HEADER = ["Country", "Capital", "GDP", "Population ", "Pop_Growth_Rate ",
                  "Life_Expectancy", "Median_Age", "Urban_Population", "Continent",
                  "Main_Official_Language", "Currency"]
COUNTRY_ROWS = [
    ("Brazil", "Brasília", "South America", "Portuguese", "Brazilian Real"),
    ("UK", "London", "Europe", "English", "Pound Sterling"),
    ("USA", "Washington, D.C.", "North America", "English", "US Dollar"),
    ("India", "New Delhi", "Asia", "Hindi, English", "Indian Rupee"),
    ("South Africa", "Pretoria", "Africa", "Zulu, Xhosa, Afrikaans, English", "Rand"),
    ("Japan", "Tokyo", "Asia", "Japanese", "Yen"),
    ("Germany", "Berlin", "Europe", "German", "Euro"),
    ("France", "Paris", "Europe", "French", "Euro"),
    ("Mexico", "Mexico City", "North America", "Spanish", "Mexican Peso"),
    ("Côte d'Ivoire", "Yamoussoukro", "Africa", "French", "CFA Franc"),
    ("United Arab Emirates", "Abu Dhabi", "Asia", "Arabic", "Dirham"),
    ("Australia", "Canberra", "Oceania", "English", "Australian Dollar"),
    ("Canada", "Ottawa", "North America", "English, French", "Canadian Dollar"),
    ("Spain", "Madrid", "Europe", "Spanish", "Euro"),
    ("Türkiye", "Ankara", "Asia", "Turkish", "Turkish Lira"),
    ("Japan", "Tōkyō", "Asia", "Japanese", "Japanese Yen"),  # duplicate: last wins
    ("", "Nowhere", "", "", ""),  # empty country: skipped
]
FACT_COUNTRIES = (
    [r[0] for r in COUNTRY_ROWS if r[0]]
    + ["UK", "USA", "us", "u.s.", "uae", " brazil ", "Atlantis"]
)
DEVICES = ["Mobile", "Desktop", "Tablet", "SmartTV", "Other"]
RACE_IDS = ["Cup 25", "league:04", "race_11", "cup", "25", "c1u2p3", "!!!", "  GP-07 "]


def write_country_csv(path: str) -> None:
    """BOM, quoted embedded commas, a duplicate and an empty-country row."""
    import csv

    with open(path, "w", encoding="utf-8-sig", newline="") as f:
        w = csv.writer(f)
        w.writerow(COUNTRY_HEADER)
        for i, (country, capital, continent, lang, currency) in enumerate(COUNTRY_ROWS):
            w.writerow([country, capital, 100 + 37 * i, f"{10 + i}.5", "0.4",
                        70 + i % 10, f"{30 + i}.0", "80.0", continent, lang, currency])


def fan_lines(seed: int, n: int) -> list[str]:
    """``n`` JSONL lines of fan engagement with fixed-rate edge cases:
    malformed and non-dict lines, missing and padded DeviceType, RaceID
    variants (absent, null, no digits, no letters, symbols), alias and
    unknown countries, and non-ASCII values."""
    rng = np.random.default_rng(seed)
    kind = rng.random(n)
    fan = rng.integers(0, 5000, n)
    race = rng.integers(0, len(RACE_IDS), n)
    country = rng.integers(0, len(FACT_COUNTRIES), n)
    device = rng.integers(0, len(DEVICES), n)
    secs = rng.integers(0, 7200, n)
    flags = rng.integers(0, 4, n)
    minute = rng.integers(0, 60 * 24 * 30, n)
    out = []
    for i in range(n):
        k = kind[i]
        if k < 0.005:
            out.append('{"FanID": "F%d", "RaceID": ' % fan[i])  # malformed
            continue
        if k < 0.01:
            out.append(("[1, 2]", "null", "42", '"text"')[i % 4])  # valid, not a dict
            continue
        m = int(minute[i])
        row = {
            "FanID": f"F{fan[i]:04d}" if k > 0.02 else f"Fñ{fan[i]}",
            "RaceID": RACE_IDS[race[i]],
            "Timestamp": f"2025-06-{1 + m // 1440:02d} {m // 60 % 24:02d}:{m % 60:02d}:{i % 60:02d}",
            "ViewerLocationCountry": FACT_COUNTRIES[country[i]],
            "DeviceType": DEVICES[device[i]],
            "EngagementMetric_secondswatched": int(secs[i]),
            "PredictionClicked": bool(flags[i] & 1),
            "MerchandisingClicked": bool(flags[i] & 2),
        }
        if k < 0.03:
            del row["DeviceType"]  # missing: kept
        elif k < 0.04:
            row["DeviceType"] = " Other "  # padded: dropped
        elif k < 0.045:
            del row["RaceID"]  # absent: normalizes to ""
        elif k < 0.05:
            row["RaceID"] = None  # explicit null: passes through
        out.append(json.dumps(row, ensure_ascii=k < 0.5))
    return out


def write_fan_input(out_dir: str, seed: int, n_lines: int, n_shards: int) -> tuple[str, str]:
    """Write the JSONL shards and the country CSV for ``seed`` into
    ``out_dir``; return (shard glob, csv path)."""
    os.makedirs(out_dir, exist_ok=True)
    lines = fan_lines(seed, n_lines)
    per = -(-n_lines // n_shards)
    for s in range(n_shards):
        with open(os.path.join(out_dir, f"part-{s:03d}.jsonl"), "w", encoding="utf-8") as f:
            f.write("".join(line + "\n" for line in lines[s * per:(s + 1) * per]))
    csv_path = os.path.join(out_dir, "country_data.csv")
    write_country_csv(csv_path)
    return os.path.join(out_dir, "part-*.jsonl"), csv_path
