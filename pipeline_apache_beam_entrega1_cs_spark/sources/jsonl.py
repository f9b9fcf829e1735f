"""Tolerant JSON-Lines source.

Replicates the reference's ``ParseJson`` rule (reference
src/pipeline.py:136-144): ``json.loads`` each line, keep only results that
are dicts, silently drop anything else (malformed JSON, scalars, arrays,
JSON ``null``).

Spark-first translation: one typed parse per line, all native expressions
(verified against ``json.loads`` and against a per-line struct parse by
differential property tests in tests/test_sources.py):

- ``from_json('[' ‖ line ‖ ',{}]', array<schema>)``, single quotes
  disabled; ``NaN``, ``Infinity`` and duplicate keys (last wins) accepted,
  like ``json.loads``. A line is kept when the array has 2 elements and the
  first is non-null. Malformed or trailing data nulls the array; a line
  that closes or continues the array (``{..}]``, ``{..},{..}``) changes
  the count; ``null``, scalars and arrays give a null element, ``{}`` an
  all-null struct. The sentinel is ``{}`` because the elements are structs.
- Jackson also accepts ``+Infinity``, ``+INF`` and ``-INF``, which
  ``json.loads`` rejects, so a line containing ``INF`` or ``+Infinity``
  must also parse as ``[<line>,0]`` into 2 ``array<string>`` elements with
  non-numeric numbers disallowed, after rewriting the tokens ``json.loads``
  accepts (``NaN``, ``Infinity``, so ``-Infinity``) to ``0``. The rewrite
  cannot make an invalid line valid: the typed parse already rejected it.
- The kept struct leaves through a Generate (``explode`` of a 0- or
  1-element slice) over the projected array; a Filter there would be
  pushed back through the projection and parse the line again.
- ``keys_col`` is ``map_keys`` of a ``map<string,string>`` parse projected
  above the Generate, so a consumer reading it in one conditional branch
  parses only the rows that take that branch.

Scale note: the schema is explicit, so no inference pass runs over the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


_NO_SINGLE_QUOTES = {"allowSingleQuotes": "false"}
_STRICT = {**_NO_SINGLE_QUOTES, "allowNonNumericNumbers": "false"}


def parse_jsonl_dicts(
    lines: DataFrame, schema: T.StructType, keys_col: str | None = None
) -> DataFrame:
    """Apply the dict-only rule + schema projection to a text DataFrame
    (batch or streaming — the expressions are identical).

    ``keys_col`` optionally attaches the object's top-level key list:
    ``from_json`` collapses an ABSENT key and an explicit JSON ``null``
    into the same struct-field null, but reference semantics can differ
    between the two (dict.get default vs a stored None) — the key list
    lets downstream operators tell them apart."""
    value, a = F.col("value"), F.col("a")
    wrapped = F.concat(F.lit("["), value, F.lit(",{}]"))
    typed = F.from_json(wrapped, T.ArrayType(schema), _NO_SINGLE_QUOTES)
    zeroed = F.replace(F.replace(value, F.lit("Infinity"), F.lit("0")), F.lit("NaN"), F.lit("0"))
    strict = F.from_json(F.concat(F.lit("["), zeroed, F.lit(",0]")), "array<string>", _STRICT)
    rare = value.contains("INF") | value.contains("+Infinity")
    keep = (F.size(a) == 2) & a[0].isNotNull() & F.when(rare, F.size(strict) == 2).otherwise(True)
    parsed = lines.select(value, typed.alias("a"))
    rec = parsed.select(value, F.explode(F.when(keep, F.slice(a, 1, 1))).alias("rec"))
    keys = F.map_keys(F.from_json(value, "map<string,string>"))
    return rec.select("rec.*", *([keys.alias(keys_col)] if keys_col else []))


def read_jsonl_dicts(
    spark: SparkSession, path_glob: str, schema: T.StructType, keys_col: str | None = None
) -> DataFrame:
    """Read newline-delimited JSON keeping only well-formed JSON objects,
    projected through an explicit schema (missing fields -> null, exactly
    like ``dict.get`` in the reference's downstream operators)."""
    return parse_jsonl_dicts(spark.read.text(path_glob), schema, keys_col)


def stream_jsonl_dicts(
    spark: SparkSession, path_glob: str, schema: T.StructType, keys_col: str | None = None
) -> DataFrame:
    """Streaming twin of read_jsonl_dicts (file-source text stream)."""
    return parse_jsonl_dicts(spark.readStream.text(path_glob), schema, keys_col)
