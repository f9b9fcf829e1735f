#!/usr/bin/env python
"""Fidelity-pipeline throughput: Spark rebuild vs a reference-equivalent
pure-Python runner, on the reference's own workload scaled up.

The reference runs on Beam's DirectRunner (not installed here). The
baseline below executes the reference's exact per-row logic (vendored
from /root/reference/src/pipeline.py:21-200) as a single-threaded Python
loop — a LOWER bound on the reference's runtime, since DirectRunner adds
bundle/DoFn dispatch overhead on top of the same per-row work. Beating
this baseline therefore implies beating the reference.

Input: the 3 shipped input files (300 rows) replicated N times.
Output: one JSON line {"rows": ..., "python_sec": ..., "spark_sec": ...,
"speedup": ...}.
"""

from __future__ import annotations

import csv
import io
import json
import os
import re
import sys
import time
from pathlib import Path

REF = Path("/root/reference")
WORK = Path("/tmp/fidelity_bench")
REPLICAS = int(os.environ.get("FIDELITY_BENCH_REPLICAS", "3000"))  # 300 rows -> ~900k

# --- reference per-row logic, vendored as the executable baseline ---
_WORDS = re.compile(r"[A-Za-z]+")
_DIGITS = re.compile(r"\d+")
ALIAS = {"usa": "united states", "us": "united states", "u.s.": "united states",
         "uk": "united kingdom", "uae": "united arab emirates"}
KEEP = ["FanID", "RaceID", "Timestamp", "DeviceType",
        "EngagementMetric_secondswatched", "PredictionClicked",
        "MerchandisingClicked", "LocationData"]


def standardize_race_id(val):
    if not isinstance(val, str):
        return val
    text = val.strip()
    word = "".join(_WORDS.findall(text)).lower()
    digits = "".join(_DIGITS.findall(text))
    if word and digits:
        return f"{word}{digits}"
    return re.sub(r"[^0-9a-zA-Z]", "", text).lower()


def build_lut(csv_path: str) -> dict:
    lut = {}
    with io.open(csv_path, "r", encoding="utf-8-sig", newline="") as f:
        for row in csv.DictReader(f):
            country = (row.get("Country") or "").strip()
            if not country:
                continue
            lut[country.strip().lower()] = {
                "country": country,
                "capital": (row.get("Capital") or "").strip(),
                "continent": (row.get("Continent") or "").strip(),
                "official language": (row.get("Main_Official_Language") or "").strip(),
                "currency": (row.get("Currency") or "").strip(),
            }
    for a, c in ALIAS.items():
        if c in lut:
            lut[a] = lut[c]
    return lut


def parse_dict(line: str) -> dict | None:
    """The reference's ParseJson: the line's ``json.loads`` value if it
    is a dict, else None."""
    try:
        row = json.loads(line)
    except Exception:
        return None
    return row if isinstance(row, dict) else None


def python_runner(in_paths: list[Path], out_path: Path, lut: dict) -> int:
    n = 0
    with open(out_path, "w", encoding="utf-8") as fout:
      for in_path in in_paths:
       with open(in_path, encoding="utf-8") as fin:
        for line in fin:
            row = parse_dict(line)
            if row is None:
                continue
            if str(row.get("DeviceType", "")).strip() == "Other":
                continue
            row["RaceID"] = standardize_race_id(row.get("RaceID", ""))
            raw = row.pop("ViewerLocationCountry", None)
            key = ALIAS.get((raw or "").strip().lower(), (raw or "").strip().lower())
            payload = lut.get(key) or {
                "country": (raw or "").strip(), "capital": "", "continent": "",
                "official language": "", "currency": "",
            }
            row["LocationData"] = payload
            fout.write(json.dumps({k: row.get(k) for k in KEEP}, ensure_ascii=False) + "\n")
            n += 1
    return n


def main() -> None:
    WORK.mkdir(parents=True, exist_ok=True)
    big_dir = WORK / "input_big"
    big_dir.mkdir(exist_ok=True)
    src_lines = []
    for p in sorted(REF.glob("input/*fan_engagement-000-of-001.json")):
        src_lines.extend(p.read_text(encoding="utf-8").splitlines())
    # shard the replicated input over many files — the realistic shape of
    # a large ingest (the reference itself reads a multi-file glob)
    n_files = 32
    per_file, rem = divmod(REPLICAS, n_files)
    for i in range(n_files):
        reps = per_file + (1 if i < rem else 0)
        with open(big_dir / f"part_{i:03d}.jsonl", "w", encoding="utf-8") as f:
            for _ in range(reps):
                f.write("\n".join(src_lines) + "\n")
    big = str(big_dir / "*.jsonl")
    n_input = len(src_lines) * REPLICAS

    csv_path = str(REF / "input_side" / "country_data_v2.csv")

    t0 = time.perf_counter()
    lut = build_lut(csv_path)
    n_py = python_runner(sorted(big_dir.glob("*.jsonl")), WORK / "out_python.jsonl", lut)
    python_sec = time.perf_counter() - t0

    from pipeline_apache_beam_entrega1_cs_spark.fidelity.pipeline import build_fidelity_df
    from pipeline_apache_beam_entrega1_cs_spark.session import get_spark

    spark = get_spark("fidelity-bench")
    # warm the JVM on the small input so the measurement is steady-state
    build_fidelity_df(
        spark, str(REF / "input" / "*fan_engagement-000-of-001.json"), csv_path
    ).write.format("noop").mode("overwrite").save()

    t0 = time.perf_counter()
    df = build_fidelity_df(spark, big, csv_path)
    # multi-shard write: the honest at-scale configuration (the reference's
    # num_shards=1 is replicated only in the golden harness)
    df.write.mode("overwrite").json(str(WORK / "out_spark"))
    spark_sec = time.perf_counter() - t0

    n_spark = spark.read.json(str(WORK / "out_spark")).count()
    assert n_spark == n_py, (n_spark, n_py)

    print(json.dumps({
        "rows_in": n_input,
        "rows_out": n_py,
        "python_sec": round(python_sec, 2),
        "spark_sec": round(spark_sec, 2),
        "speedup": round(python_sec / spark_sec, 2),
    }))


if __name__ == "__main__":
    main()
