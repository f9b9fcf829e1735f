"""Golden end-to-end fidelity test (SURVEY.md §5 item 1).

Runs the PySpark rebuild on the reference's shipped inputs and compares
value-by-value (order-insensitive, null==absent) against the committed
golden output ``/root/reference/output/sample0-00000-of-00001.jsonl``.

Checks the known-hard invariants explicitly: 237 rows survive, 63
DeviceType=="Other" rows dropped, 28 UK/USA fallback rows with empty
LocationData payloads, non-ASCII capitals pass through literally.
"""

from __future__ import annotations

import json
from collections import Counter

import pytest

REF = "/root/reference"
GOLDEN = f"{REF}/output/sample0-00000-of-00001.jsonl"
JSON_GLOB = f"{REF}/input/*fan_engagement-000-of-001.json"
CSV = f"{REF}/input_side/country_data_v2.csv"


def canon(obj: dict) -> str:
    """Canonical form: sorted keys, None and absent collapse (the
    reference serializes absent keys as null; Spark's JSON writer omits
    null fields — same value semantics)."""
    def scrub(v):
        if isinstance(v, dict):
            return {k: scrub(x) for k, x in sorted(v.items()) if x is not None}
        return v

    return json.dumps(scrub(obj), sort_keys=True, ensure_ascii=False)


@pytest.fixture(scope="module")
def result_rows(spark):
    from pipeline_apache_beam_entrega1_cs_spark.fidelity.pipeline import build_fidelity_df

    df = build_fidelity_df(spark, JSON_GLOB, CSV)
    return [row.asDict(recursive=True) for row in df.collect()]


@pytest.fixture(scope="module")
def golden_rows():
    with open(GOLDEN, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def test_row_count(result_rows, golden_rows):
    assert len(golden_rows) == 237
    assert len(result_rows) == 237


def test_exact_multiset_match(result_rows, golden_rows):
    got = Counter(canon(r) for r in result_rows)
    want = Counter(canon(r) for r in golden_rows)
    missing = want - got
    extra = got - want
    assert not missing and not extra, (
        f"missing={list(missing)[:3]} extra={list(extra)[:3]}"
    )


def test_fallback_rows(result_rows):
    """28 UK/USA rows must get the fallback struct (alias asymmetry,
    reference src/pipeline.py:126-128 vs :171)."""
    fallbacks = [
        r for r in result_rows
        if r["LocationData"]["capital"] == "" and r["LocationData"]["country"] in ("UK", "USA")
    ]
    by_country = Counter(r["LocationData"]["country"] for r in fallbacks)
    assert by_country == {"UK": 15, "USA": 13}


def test_race_ids_normalized(result_rows):
    assert {r["RaceID"] for r in result_rows} == {"cup25", "league04", "race11"}


def test_non_ascii_passthrough(result_rows):
    capitals = {r["LocationData"]["capital"] for r in result_rows}
    assert "Brasília" in capitals


def test_race_id_null_vs_absent_semantics(spark, tmp_path):
    """Reference three-way semantics (src/pipeline.py:28-30 + 157):
    absent RaceID -> row.get default "" -> normalized ""; explicit JSON
    null -> returned unchanged (isinstance guard) -> stays null; string
    -> normalized. The _json_keys channel preserves absent-vs-null
    through from_json."""
    from pipeline_apache_beam_entrega1_cs_spark.fidelity.pipeline import (
        JSON_KEYS_COL,
        standardize_race,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import FAN_ENGAGEMENT_SCHEMA
    from pipeline_apache_beam_entrega1_cs_spark.sources.jsonl import read_jsonl_dicts

    p = tmp_path / "race.jsonl"
    p.write_text(
        '{"FanID": "m1", "RaceID": "Cup 25"}\n'
        '{"FanID": "m2", "RaceID": null}\n'
        '{"FanID": "m3"}\n'
    )
    df = standardize_race(
        read_jsonl_dicts(spark, str(p), FAN_ENGAGEMENT_SCHEMA, keys_col=JSON_KEYS_COL)
    )
    got = {r["FanID"]: r["RaceID"] for r in df.select("FanID", "RaceID").collect()}
    assert got == {"m1": "cup25", "m2": None, "m3": ""}


def test_generated_input_matches_python_reference(spark, tmp_path):
    """Reference-free end to end: on seeded fan-engagement input (the
    benchmark's generator: FIXTURES edge cases, a country CSV with a BOM,
    quoted commas, a duplicate and an empty row) the batch pipeline's
    JSONL equals the per-row Python reference's, and the stream twin
    equals the batch."""
    import bench_fidelity
    from perfbench.datagen import write_fan_input
    from perfbench.workloads import jsonl_multiset
    from pipeline_apache_beam_entrega1_cs_spark.fidelity.pipeline import (
        build_fidelity_df,
        build_fidelity_stream,
        write_jsonl,
    )
    from pipeline_apache_beam_entrega1_cs_spark.streaming.windows import _drain

    glob, csv = write_fan_input(str(tmp_path / "in"), 7, 5000, 4)
    want = tmp_path / "want.jsonl"
    n = bench_fidelity.python_runner(sorted((tmp_path / "in").glob("part-*.jsonl")), want,
                                     bench_fidelity.build_lut(csv))
    batch = build_fidelity_df(spark, glob, csv)
    write_jsonl(batch, str(tmp_path / "out"), single_shard=False)
    got = jsonl_multiset(sorted((tmp_path / "out").glob("part-*")))
    assert n > 0 and got == jsonl_multiset([want])

    def rows(df):
        return Counter(canon(r.asDict(recursive=True)) for r in df.collect())

    assert rows(_drain(build_fidelity_stream(spark, glob, csv), "append")) == rows(batch)
