"""Tolerant JSON-Lines source.

Replicates the reference's ``ParseJson`` rule (reference
src/pipeline.py:136-144): ``json.loads`` each line, keep only results that
are dicts, silently drop anything else (malformed JSON, scalars, arrays,
JSON ``null``).

Spark-first translation, all native expressions (verified against
``json.loads`` by a differential property test in tests/test_sources.py):

- ``from_json(value, map<string,string>)`` is non-null exactly when the
  line starts with a JSON object (single quotes disabled; ``NaN``,
  ``Infinity`` and duplicate keys accepted, like ``json.loads``). Its
  ``map_keys`` is the object's key list. The schema projection,
  ``from_json(value, schema)``, keeps a duplicate key's last value, as
  ``json.loads`` does.
- That parse ignores anything after the object, so a second parse of
  ``[<line>,0]`` as ``array<string>`` must give exactly 2 elements: it
  fails on trailing data (``{..} x``, ``{..}{..}``) and counts more or
  fewer elements when the line closes or continues the array
  (``{..}]``, ``{..},{..}``). Jackson also accepts ``+Infinity``,
  ``+INF`` and ``-INF``, which ``json.loads`` rejects, so this parse
  disallows non-numeric numbers after rewriting the tokens ``json.loads``
  accepts (``NaN``, ``Infinity``, and so ``-Infinity``) to ``0``. The
  rewrite cannot make an invalid line valid: the first parse already
  rejected it, and no valid string escape contains either token.

``from_json`` with a struct schema alone cannot express "dict-only": in
PERMISSIVE mode it returns an all-null struct for BOTH ``{}`` (a dict,
must be kept) and ``null``/``[1,2]``/garbage (must be dropped).

Scale note: the glob can span millions of files; the schema is explicit so
no inference pass runs over the data.
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
    obj = F.from_json(F.col("value"), "map<string,string>", _NO_SINGLE_QUOTES)
    numbers_as_zero = F.col("value")
    for token in ("Infinity", "NaN"):
        numbers_as_zero = F.replace(numbers_as_zero, F.lit(token), F.lit("0"))
    one_value = F.from_json(
        F.concat(F.lit("["), numbers_as_zero, F.lit(",0]")), "array<string>", _STRICT
    )
    kept = lines.filter(obj.isNotNull() & (F.size(one_value) == 2))
    extras = [F.map_keys(obj).alias(keys_col)] if keys_col else []
    rec = kept.select(F.from_json(F.col("value"), schema).alias("rec"), *extras)
    return rec.select("rec.*", *([keys_col] if keys_col else []))


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
