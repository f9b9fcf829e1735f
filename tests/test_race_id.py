"""Property tests: the native Spark expressions must agree with the
reference's Python functions (vendored below as the executable spec —
SURVEY.md §5 item 3) on randomized inputs and on every known edge case;
the SQL string literals they are written with must round-trip any text."""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pipeline_apache_beam_entrega1_cs_spark.functions.strings import PY_WHITESPACE, sql_str

# --- executable spec: the reference's functions, vendored verbatim-in-
#     semantics (reference src/pipeline.py:17-36 and :42-44) ---
_WORDS = re.compile(r"[A-Za-z]+")
_DIGITS = re.compile(r"\d+")


def ref_standardize_race_id(val: str) -> str:
    text = val.strip()
    word = "".join(_WORDS.findall(text)).lower()
    digits = "".join(_DIGITS.findall(text))
    if word and digits:
        return f"{word}{digits}"
    return re.sub(r"[^0-9a-zA-Z]", "", text).lower()


def ref_norm_country_key(name: str | None) -> str:
    return (name or "").strip().lower()


EDGE_CASES = [
    "Cup 25", "league:04", "race_11", "25 Cup", "c1u2p3",
    "cup", "25", "!!!", "", "  ", "CUP25", "a b c 1 2 3",
    "é25", "ñandú 7", "_-_-", "0", "A", " Other ",
]


def _spark_eval(spark, values: list[str | None], expr_fn) -> list[str]:
    df = spark.createDataFrame([(v,) for v in values], "v: string")
    return [r.out for r in df.selectExpr(f"{expr_fn('v')} AS out").collect()]


def test_race_id_edge_cases(spark):
    from pipeline_apache_beam_entrega1_cs_spark.functions.strings import standardize_race_id

    got = _spark_eval(spark, EDGE_CASES, standardize_race_id)
    want = [ref_standardize_race_id(v) for v in EDGE_CASES]
    assert got == want, list(zip(EDGE_CASES, got, want))


def test_norm_country_key_edge_cases(spark):
    from pipeline_apache_beam_entrega1_cs_spark.functions.strings import norm_country_key

    every_space = "".join(c for c in map(chr, range(0x110000)) if c.isspace())
    values = [
        "  UK ", "usa", "South Africa", "", "  ", "Côte d'Ivoire", None,
        "\tUK\n", "\xa0usa", "\u3000Brazil", every_space + "Chile" + every_space,
    ]
    got = _spark_eval(spark, values, norm_country_key)
    want = [ref_norm_country_key(v) for v in values]
    assert got == want


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.text(min_size=0, max_size=24), min_size=1, max_size=50))
def test_race_id_property(spark, values):
    from pipeline_apache_beam_entrega1_cs_spark.functions.strings import standardize_race_id

    got = _spark_eval(spark, values, standardize_race_id)
    want = [ref_standardize_race_id(v) for v in values]
    assert got == want


def test_alias_rewrite(spark):
    from pipeline_apache_beam_entrega1_cs_spark.functions.strings import (
        COUNTRY_ALIAS,
        apply_country_alias,
    )

    values = ["usa", "us", "u.s.", "uk", "uae", "france", ""]
    got = _spark_eval(spark, values, apply_country_alias)
    want = [COUNTRY_ALIAS.get(v, v) for v in values]
    assert got == want


# lone surrogates (category Cs) cannot cross to the JVM at all
_SQL_TEXT = st.text(
    st.one_of(
        st.sampled_from(list("'\\\x00\"u07%_") + list(PY_WHITESPACE)),
        st.characters(blacklist_categories=("Cs",)),
        st.characters(min_codepoint=0x10000, blacklist_categories=("Cs",)),
    ),
    max_size=24,
)


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_SQL_TEXT, min_size=1, max_size=20))
@example(["Côte d'Ivoire", "C:\\u0041\\07\\%", "\x00" + PY_WHITESPACE + "\U0001f600\U000e0001", ""])
def test_sql_str_round_trips(spark, values):
    """Every text, quoted by ``sql_str``, parses back to itself: quotes,
    backslashes (also before ``u`` or a digit), NUL, every
    ``str.isspace()`` character and non-BMP characters."""
    row = spark.range(1).selectExpr(*[f"{sql_str(v)} AS c{i}" for i, v in enumerate(values)]).first()
    assert list(row) == values
