"""Tolerant JSON-Lines source.

Replicates the reference's ``ParseJson`` rule (reference
src/pipeline.py:136-144): ``json.loads`` each line, keep only results that
are dicts, silently drop anything else (malformed JSON, scalars, arrays,
JSON ``null``).

Spark-first translation: one typed parse per line, each projection one
``selectExpr`` of SQL text (verified against ``json.loads`` and against a
per-line struct parse by differential property tests in tests/test_sources.py):

- ``from_json('[' ‖ line ‖ ',{}]', array<schema>)``, single quotes
  disabled; ``NaN``, ``Infinity`` and duplicate keys (last wins) accepted,
  like ``json.loads``. A line is kept when the array has 2 elements and the
  first is non-null. Malformed data nulls the array; a line that closes or
  continues the array (``{..}]``, ``{..},{..}``) changes the count;
  ``null``, scalars and arrays give a null element, ``{}`` an all-null
  struct. The sentinel is ``{}`` because the elements are structs.
- Jackson also accepts ``+Infinity``, ``+INF`` and ``-INF``, which
  ``json.loads`` rejects, and ``from_json`` ignores what follows the first
  top-level value (``{..},{..}],[0`` counts 2). So a line holding ``INF``,
  ``+Infinity`` or ``]`` must also parse as ``[<line>,0,0]`` into 3
  ``array<string>`` elements with non-numeric numbers disallowed, after
  rewriting the tokens ``json.loads`` accepts (``NaN``, ``Infinity``) to
  ``0``. An invalid line stays invalid: the typed parse rejected it, or it
  closes the array early and both parses read one prefix, 2 elements.
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
from pyspark.sql import types as T

from ..functions.strings import sql_str

_NO_SINGLE_QUOTES = "map('allowSingleQuotes', 'false')"
_STRICT = "map('allowSingleQuotes', 'false', 'allowNonNumericNumbers', 'false')"


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
    array_type = sql_str(T.ArrayType(schema).json())
    typed = f"from_json(concat('[', value, ',{{}}]'), {array_type}, {_NO_SINGLE_QUOTES})"
    zeroed = "replace(replace(value, 'Infinity', '0'), 'NaN', '0')"
    strict = f"size(from_json(concat('[', {zeroed}, ',0,0]'), 'array<string>', {_STRICT})) = 3"
    rare = "contains(value, 'INF') OR contains(value, '+Infinity') OR contains(value, ']')"
    keep = f"size(a) = 2 AND a[0] IS NOT NULL AND CASE WHEN {rare} THEN {strict} ELSE true END"
    rec = lines.selectExpr("value", f"{typed} AS a").selectExpr(
        "value", f"explode(CASE WHEN {keep} THEN slice(a, 1, 1) END) AS rec")
    keys = f"map_keys(from_json(value, 'map<string,string>')) AS `{keys_col}`"
    return rec.selectExpr("rec.*", *([keys] if keys_col else []))


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
