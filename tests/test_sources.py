"""Unit tests for the tolerant sources (FIXTURES.md edge variants):
CSV delimiter sniffing, header aliasing, duplicate/empty-country rows,
alias back-fill override, multi-line and whitespace-padded fields,
header-only tables; JSONL dict-only rule, also differentially against
``json.loads``, and its typed fields against a per-line struct parse;
parquet footer schemas, differentially against Spark's schema inference."""

from __future__ import annotations

import itertools
import json
from collections import Counter
from decimal import Decimal
from pathlib import Path

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

import bench_fidelity
from perfbench.layers import id_snapshot
from pipeline_apache_beam_entrega1_cs_spark.schemas import (
    FAN_ENGAGEMENT_SCHEMA,
    TESTDATA_TABLES,
    footer_schema,
    load_table,
    normalize_nanos_ts,
)


def write(tmp_path, name, content):
    p = tmp_path / name
    p.write_text(content, encoding="utf-8")
    return str(p)


@pytest.mark.parametrize("delim", [",", ";", "|", "\t"])
def test_csv_delimiter_sniffing(spark, tmp_path, delim):
    from pipeline_apache_beam_entrega1_cs_spark.sources.csv_tolerant import read_country_dim

    rows = [
        ["Country", "Capital", "Continent", "Main_Official_Language", "Currency"],
        ["Testland", "Testville", "Testca", "Testish", "TST"],
    ]
    path = write(tmp_path, f"d_{ord(delim)}.csv", "\n".join(delim.join(r) for r in rows))
    out = {r.key: r for r in read_country_dim(spark, path).collect()}
    assert out["testland"].capital == "Testville"


def test_csv_header_aliases_and_fallthrough(spark, tmp_path):
    """Alternate header spellings resolve; an empty value in the first
    matching alias column falls through to the next (reference get_value
    semantics)."""
    from pipeline_apache_beam_entrega1_cs_spark.sources.csv_tolerant import read_country_dim

    csv = (
        "Country Name,Capital City,Region,Language,Languages,Currency Code\n"
        "Aland,Acity,Acont,,Aish,AAA\n"
    )
    path = write(tmp_path, "alias.csv", csv)
    row = read_country_dim(spark, path).collect()[0]
    assert row.key == "aland"
    assert row.continent == "Acont"          # Region alias
    assert row["official language"] == "Aish"  # empty Language -> Languages
    assert row.currency == "AAA"


def test_csv_duplicate_last_wins_and_empty_skipped(spark, tmp_path):
    from pipeline_apache_beam_entrega1_cs_spark.sources.csv_tolerant import read_country_dim

    csv = (
        "Country,Capital,Continent,Main_Official_Language,Currency\n"
        "Dupland,First,X,Y,Z\n"
        ",Ghost,X,Y,Z\n"
        "Dupland,Second,X,Y,Z\n"
    )
    path = write(tmp_path, "dup.csv", csv)
    rows = {r.key: r for r in read_country_dim(spark, path).collect()}
    assert rows["dupland"].capital == "Second"
    assert len(rows) == 1  # empty-country row skipped


def test_csv_alias_backfill_overrides_existing_row(spark, tmp_path):
    """lut[alias] = lut[canonical] OVERWRITES a same-named CSV row
    (reference src/pipeline.py:126-128)."""
    from pipeline_apache_beam_entrega1_cs_spark.sources.csv_tolerant import read_country_dim

    csv = (
        "Country,Capital,Continent,Main_Official_Language,Currency\n"
        "uk,WrongCap,X,Y,Z\n"
        "United Kingdom,London,Europe,English,GBP\n"
    )
    path = write(tmp_path, "backfill.csv", csv)
    rows = {r.key: r for r in read_country_dim(spark, path).collect()}
    assert rows["uk"].capital == "London"  # alias payload wins over the uk row
    assert rows["united kingdom"].capital == "London"


def test_csv_bom_tolerated(spark, tmp_path):
    from pipeline_apache_beam_entrega1_cs_spark.sources.csv_tolerant import read_country_dim

    csv = "﻿Country,Capital,Continent,Main_Official_Language,Currency\nBomland,Bcity,Bc,Bl,BBB\n"
    path = write(tmp_path, "bom.csv", csv)
    rows = {r.key: r for r in read_country_dim(spark, path).collect()}
    assert rows["bomland"].capital == "Bcity"


def test_jsonl_dict_only_rule(spark, tmp_path):
    from pipeline_apache_beam_entrega1_cs_spark.sources.jsonl import read_jsonl_dicts

    lines = [
        '{"FanID": "F1", "DeviceType": "Mobile"}',
        "[1,2]",
        "garbage",
        '"scalar"',
        "123",
        "null",
        "{}",
        '{"FanID": 7}',
    ]
    path = write(tmp_path, "mixed.jsonl", "\n".join(lines))
    rows = read_jsonl_dicts(spark, path, FAN_ENGAGEMENT_SCHEMA).collect()
    # kept: the dict, the empty dict, and the numeric-FanID dict (coerced)
    assert len(rows) == 3
    fanids = sorted(str(r.FanID) for r in rows)
    assert fanids == ["7", "F1", "None"]


def test_csv_quoted_capital_spans_lines(spark, tmp_path):
    """A quoted field may contain a newline (csv module semantics); it
    must not split the row in two."""
    from pipeline_apache_beam_entrega1_cs_spark.sources.csv_tolerant import read_country_dim

    csv = (
        "Country,Capital,Continent,Main_Official_Language,Currency\n"
        'Multiland,"North\nSouth",X,Y,Z\n'
        "Otherland,Ocity,X,Y,Z\n"
    )
    path = write(tmp_path, "multiline.csv", csv)
    rows = {r.key: r for r in read_country_dim(spark, path).collect()}
    assert sorted(rows) == ["multiland", "otherland"]
    assert rows["multiland"].capital == "North\nSouth"


def test_csv_tab_padded_country(spark, tmp_path):
    """Values are stripped like ``str.strip()``: tabs too, not only spaces."""
    from pipeline_apache_beam_entrega1_cs_spark.sources.csv_tolerant import read_country_dim

    csv = "Country,Capital,Continent,Main_Official_Language,Currency\n\tTabland\t,Tcity,X,Y,Z\n"
    path = write(tmp_path, "tab.csv", csv)
    rows = {r.key: r for r in read_country_dim(spark, path).collect()}
    assert list(rows) == ["tabland"]
    assert rows["tabland"].country == "Tabland"


def test_csv_header_only_gives_every_fact_the_fallback(spark, tmp_path):
    """An empty LUT still types the lookup: every fact gets the fallback
    struct, whose country is the raw value ``str.strip()``-ed."""
    from pipeline_apache_beam_entrega1_cs_spark.fidelity.pipeline import build_fidelity_df

    csv = write(tmp_path, "header_only.csv", "Country,Capital,Continent,Main_Official_Language,Currency\n")
    countries = ["UK", " USA ", "\tBrazil\n", "\u3000Chile", None]
    facts = [json.dumps({"FanID": f"F{i}", "ViewerLocationCountry": c}) for i, c in enumerate(countries)]
    path = write(tmp_path, "facts.jsonl", "\n".join(facts))
    got = {r.FanID: r.LocationData.asDict() for r in build_fidelity_df(spark, path, csv).collect()}
    empty = {"capital": "", "continent": "", "official language": "", "currency": ""}
    assert got == {f"F{i}": {"country": (c or "").strip(), **empty} for i, c in enumerate(countries)}


# --- the dict-only rule against the reference's json.loads ---

_STRING = st.text(max_size=6).map(lambda t: json.dumps(t, ensure_ascii=False))
_VALUE = st.one_of(
    _STRING,
    st.sampled_from([
        "1", "-0.5e3", "1e400", "01", "1.", "true", "True", "null", "NaN", "-NaN", "Infinity",
        "-Infinity", "+Infinity", "-INF", "+INF", '"NaN"', '"\\u00e9"', '"\\x"', "[1,NaN]",
        '{"b":{}}', "'s'",
    ]),
)
_PAIR = st.one_of(
    st.tuples(st.just("FanID"), st.one_of(_STRING, st.just("null"))),
    st.tuples(st.sampled_from(["RaceID", "a", "é", "Infinity"]).map(json.dumps), _VALUE),
    st.tuples(st.just("'q'"), _VALUE),
)
_SPACE = st.sampled_from(["", " ", "\t", "\xa0", "\u3000", "\x0b"])


@st.composite
def _json_line(draw):
    pairs = draw(st.lists(_PAIR, max_size=4))
    obj = "{" + ",".join(f"{k}{draw(_SPACE)}:{v}" for k, v in pairs) + "}"
    shape = draw(st.sampled_from([
        "{o}", "{o} x", "{o}{o}", "{o}]", "[{o}]", "{o},{o}", "{o},0", "{o} NaN", "{o}//",
        "{o},{o}],[0", "{o},{o}] x", "{o},{o},{o}],[0",
    ]))
    return draw(_SPACE) + shape.format(o=obj) + draw(_SPACE)


# lone surrogates (category Cs) cannot be written to a UTF-8 file at all
_LINE = st.one_of(
    _json_line(),
    st.text(
        st.characters(blacklist_characters="\r\n", blacklist_categories=("Cs",)),
        max_size=12,
    ),
)
_file_ids = itertools.count()


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_LINE, min_size=1, max_size=30))
@example([
    '{"FanID":"d","FanID":"D2"}', '{"FanID":"n","a":NaN}', '{"FanID":"t"} x',
    '{"FanID":"c"}{"b":2}', "{'FanID':'q'}", '{"FanID":"b"}]', ' {"FanID":"w"}\t',
    '\xa0{"FanID":"l"}', '{"FanID":"r"}\xa0', '{"FanID":"é","ü":"ß"}', '{"a":+Infinity}',
    '{"a":-INF}', '{"a":Infinity,"b":-Infinity}', "[1,2]", "null", "{}", "garbage",
    "{},{}],[0", "{},{},{}],[0", '{"FanID":"k"},{}] x', '{"FanID":"]"}', '{"FanID":"[]","a":[1]}',
])
def test_jsonl_dict_only_rule_matches_json_loads(spark, tmp_path, lines):
    """``read_jsonl_dicts`` keeps exactly the lines ``json.loads`` turns
    into a dict (bench_fidelity's ParseJson), with the same key set and
    the same last-wins value for a duplicated key. Drawn shapes include a
    line that closes the wrapper array after two objects and goes on
    (``{..},{..}],[0``), which both array-wrapped parses read as a
    prefix."""
    from pipeline_apache_beam_entrega1_cs_spark.sources.jsonl import read_jsonl_dicts

    path = tmp_path / f"fuzz-{next(_file_ids)}.jsonl"
    path.write_text("\n".join(lines) + "\n", encoding="utf-8")
    schema = T.StructType([T.StructField("FanID", T.StringType())])
    got = Counter(
        (tuple(sorted(set(r.key_list))), r.FanID)
        for r in read_jsonl_dicts(spark, str(path), schema, keys_col="key_list").collect()
    )
    with open(path, encoding="utf-8") as f:
        kept = [d for d in map(bench_fidelity.parse_dict, f) if d is not None]
    want = Counter((tuple(sorted(d)), d.get("FanID")) for d in kept)
    assert got == want


# --- typed fields against a per-line struct parse ---

_TYPED_VALUE = st.one_of(
    _STRING,
    st.integers(-(2**70), 2**70).map(str),
    st.sampled_from([
        '"5"', "5.0", "1e400", "9223372036854775808", '"true"', "1", "0", "true", "false",
        "null", "NaN", "Infinity", "-Infinity", '{"x":1}', '{"x":{"y":[1]}}', "[]", '[1,"a"]',
        '"x INF"',
    ]),
)
_TYPED_PAIR = st.tuples(
    st.sampled_from(FAN_ENGAGEMENT_SCHEMA.fieldNames() + ["fanid", "a"]).map(json.dumps),
    _TYPED_VALUE,
)


@st.composite
def _typed_line(draw):
    obj = "{" + ",".join(f"{k}:{v}" for k, v in draw(st.lists(_TYPED_PAIR, max_size=6))) + "}"
    return draw(st.sampled_from(["{o}", "{o}", "{o}", " {o} ", "{o} x", "{o},{o}", "[{o}]"])).format(o=obj)


def _struct_parse_rows(spark, path: str) -> Counter:
    """Reference arm: the per-line struct parse ``from_json(value, schema)``
    of every line ``json.loads`` turns into a dict."""
    lines = spark.read.text(path).select("value", F.from_json("value", FAN_ENGAGEMENT_SCHEMA).alias("r"))
    return Counter(tuple(r.r) for r in lines.collect() if bench_fidelity.parse_dict(r.value) is not None)


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_typed_line(), min_size=1, max_size=40))
@example([
    '{"FanID":"x INF","EngagementMetric_secondswatched":5}', '{"FanID":"i","RaceID":-INF}',
    '{"FanID":"p","EngagementMetric_secondswatched":+INF}', '{"FanID":"q","RaceID":+Infinity}',
    '{"FanID":"n","EngagementMetric_secondswatched":-NaN}', '{"DeviceType":"INF","PredictionClicked":true}',
])
def test_jsonl_typed_fields_match_struct_parse(spark, tmp_path, lines):
    """Every row ``read_jsonl_dicts`` keeps under the full fan-engagement
    schema equals the per-line struct parse of a line ``json.loads`` keeps:
    the typed fields come out of the array-wrapped parse unchanged."""
    from pipeline_apache_beam_entrega1_cs_spark.sources.jsonl import read_jsonl_dicts

    path = tmp_path / f"typed-{next(_file_ids)}.jsonl"
    path.write_text("\n".join(lines) + "\n", encoding="utf-8")
    got = Counter(tuple(r) for r in read_jsonl_dicts(spark, str(path), FAN_ENGAGEMENT_SCHEMA).collect())
    assert got == _struct_parse_rows(spark, str(path))


def test_custom_python_datasource_partitions(spark):
    """The custom Python DataSource must expose REAL read parallelism:
    4 input partitions each producing its residue class, and the full
    id range arriving exactly once."""
    from pyspark.sql import functions as F

    from pipeline_apache_beam_entrega1_cs_spark.sources.custom_source import (
        DeterministicRowsSource,
    )

    spark.dataSource.register(DeterministicRowsSource)
    df = spark.read.format("graft_rows").option("n", 40).load()
    parts = (
        df.select("id", F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n"), F.collect_set(F.col("id") % 4).alias("resid"))
        .collect()
    )
    assert len(parts) == 4 and all(r["n"] == 10 for r in parts)
    assert all(len(r["resid"]) == 1 for r in parts)  # one residue class each
    ids = sorted(r["id"] for r in df.select("id").collect())
    assert ids == list(range(40))


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_matches_inferred_testdata(spark, sf):
    """Every testdata table's footer schema is the schema Spark infers
    for it, so reading with it changes nothing but the job count."""
    d = Path("/root/testdata") / sf
    if not d.is_dir():
        pytest.skip(f"{d} absent")
    for t in TESTDATA_TABLES:
        p = str(d / f"{t}.parquet")
        assert spark.read.schema(footer_schema(p)).parquet(p).schema == (
            spark.read.parquet(p).schema
        ), t


def _typed_parquet(tmp_path) -> str:
    """Path of a pyarrow-written ``typed.parquet`` covering the types
    the driver's tables use or could: timestamp[ns] (kept as
    TIMESTAMP(NANOS)), tz-less us/ms timestamps, a UTC-adjusted
    timestamp, a non-null column, decimal, date, bool, a float list and
    a struct."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 3, 10, 6, 30, 15, 123456)
    schema = pa.schema(
        [
            ("ts", pa.timestamp("ns")),
            ("ts_us", pa.timestamp("us")),
            ("ts_ms", pa.timestamp("ms")),
            ("ts_utc", pa.timestamp("us", tz="UTC")),
            pa.field("k", pa.int64(), nullable=False),
            ("amount", pa.decimal128(12, 2)),
            ("day", pa.date32()),
            ("flag", pa.bool_()),
            ("vec", pa.list_(pa.float32())),
            ("rec", pa.struct([pa.field("a", pa.int32(), nullable=False), ("b", pa.string())])),
        ]
    )
    table = pa.table(
        {
            "ts": [1_710_052_215_123_456_789, None],
            "ts_us": [t0, None],
            "ts_ms": [t0, t0],
            "ts_utc": [t0, None],
            "k": [1, 2],
            "amount": [Decimal("12.34"), None],
            "day": [dt.date(2024, 3, 10), None],
            "flag": [True, None],
            "vec": [[1.5, None], None],
            "rec": [{"a": 1, "b": "x"}, None],
        },
        schema=schema,
    )
    path = str(tmp_path / "typed.parquet")
    pq.write_table(table, path, coerce_timestamps=None)
    assert pq.read_schema(path).field("ts").type == pa.timestamp("ns")
    return path


def test_footer_schema_matches_inferred_all_types(spark, tmp_path):
    """Also for the same table written back by Spark: a directory of
    part files whose footers carry Spark's stored schema. That is the
    shape of a MergeSink state, which a fresh sink (a restarted query)
    reads with no Spark job."""
    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import MergeSink

    path = _typed_parquet(tmp_path)
    spark_dir = str(tmp_path / "spark_written")
    spark.read.parquet(path).write.parquet(spark_dir)
    for p in (path, spark_dir):
        assert spark.read.schema(footer_schema(p)).parquet(p).schema == (
            spark.read.parquet(p).schema
        ), p
    before = id_snapshot(spark)
    state = MergeSink(str(tmp_path / "sink" / "state")).read_state(spark, spark_dir)
    assert before is not None and id_snapshot(spark) == before
    assert state.schema == spark.read.parquet(spark_dir).schema


def test_footer_schema_load_matches_inferred_rows_on_hostile_session(spark, tmp_path):
    """On a session with the nanos conf unset and a non-UTC zone (the
    shape of a harness-built session, see test_adversarial_session),
    ``load_table``'s footer-schema read gives the same ns and NTZ
    timestamps as the inferred read it replaces; the ns value is
    truncated to microseconds."""
    path = _typed_parquet(tmp_path)
    hostile = spark.newSession()
    hostile.conf.set("spark.sql.session.timeZone", "America/New_York")
    hostile.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    cols = ["k", "ts", "ts_us", "ts_ms", "ts_utc"]
    got = load_table(hostile, str(tmp_path), "typed").select(cols).collect()
    want = normalize_nanos_ts(hostile.read.parquet(path)).select(cols).collect()
    assert sorted(got) == sorted(want)
    first = next(r for r in got if r.k == 1)
    assert first.ts.microsecond == 123456  # 1_710_052_215_123_456_789 ns


def test_table_loads_and_stream_schema_run_no_spark_job(spark, sf_dir):
    """Loading every testdata table and building the events file
    stream start no Spark job: their schemas come from the footers.
    Judged by the scheduler's next job and stage ids before and after."""
    from pipeline_apache_beam_entrega1_cs_spark.streaming.windows import _stream_events

    before = id_snapshot(spark)
    frames = [load_table(spark, sf_dir, t) for t in TESTDATA_TABLES]
    frames.append(_stream_events(spark, sf_dir))
    assert before is not None and id_snapshot(spark) == before
    assert all(f.columns for f in frames)
