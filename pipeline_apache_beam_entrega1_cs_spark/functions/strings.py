"""Scalar string expressions replicating the reference's normalization
functions as pure native Spark column expressions (zero UDF — these run
inside whole-stage codegen).

Semantics replicated (verified by property tests against the vendored
reference functions in tests/test_race_id.py):

- ``standardize_race_id`` (reference src/pipeline.py:21-36): concatenate
  ALL letter runs (lowercased) then ALL digit runs; if either side is
  empty, fall back to stripping every non-alphanumeric and lowercasing.
  "Cup 25" -> "cup25", "league:04" -> "league04", "c1u2p3" -> "cup123",
  "!!!" -> "".
- ``_norm_country_key`` (reference src/pipeline.py:42-44):
  ``(name or "").strip().lower()``, where ``strip()`` is Python's
  (``py_strip``: every ``str.isspace()`` character, not only U+0020).
- ``ALIAS`` rewrite (reference src/pipeline.py:47-53, applied at :171).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Country-name aliases (reference src/pipeline.py:47-53). Applied to the
# fact-side key BEFORE lookup; the LUT side only back-fills alias keys when
# the canonical long name is itself a LUT key (reference src/pipeline.py:126-128).
COUNTRY_ALIAS = {
    "usa": "united states",
    "us": "united states",
    "u.s.": "united states",
    "uk": "united kingdom",
    "uae": "united arab emirates",
}


# The characters ``str.isspace()`` is true for: what ``str.strip()`` removes.
PY_WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680\u2000\u2001\u2002\u2003"
    "\u2004\u2005\u2006\u2007\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000"
)


def py_strip(col: Column) -> Column:
    """Python's ``str.strip()``; ``F.trim`` strips only U+0020."""
    return F.btrim(col, F.lit(PY_WHITESPACE))


def standardize_race_id(col: Column) -> Column:
    """Native-expression port of ``standardize_race_id``.

    Letter runs concatenate before digit runs regardless of original order
    ("25 Cup" -> "cup25"); regexp_replace keeps character order within each
    class, exactly like ``"".join(re.findall(...))`` in the reference.
    Null propagates as null (the reference only ever sees strings because
    it defaults missing RaceID to ""; callers should coalesce first if
    they need that behavior).
    """
    letters = F.lower(F.regexp_replace(col, "[^A-Za-z]", ""))
    # Python's \d matches Unicode decimal digits (category Nd), not just
    # ASCII — \p{Nd} is the Java-regex equivalent.
    digits = F.regexp_replace(col, r"[^\p{Nd}]", "")
    fallback = F.lower(F.regexp_replace(col, "[^0-9a-zA-Z]", ""))
    return F.when((letters != "") & (digits != ""), F.concat(letters, digits)).otherwise(fallback)


def norm_country_key(col: Column) -> Column:
    """``(name or "").strip().lower()`` — null-safe, whitespace-trimmed,
    lowercased join key (reference src/pipeline.py:42-44)."""
    return F.lower(py_strip(F.coalesce(col, F.lit(""))))


def apply_country_alias(key: Column) -> Column:
    """Rewrite an already-normalized key through COUNTRY_ALIAS
    (reference src/pipeline.py:171: ``key = ALIAS.get(key, key)``)."""
    pairs: list[Column] = []
    for alias, canonical in COUNTRY_ALIAS.items():
        pairs.append(F.lit(alias))
        pairs.append(F.lit(canonical))
    alias_map = F.create_map(*pairs)
    return F.coalesce(alias_map[key], key)
