"""Scalar string expressions replicating the reference's normalization
functions as native Spark SQL expression text (zero UDF).

Each function takes the SQL text of a string expression and returns the
SQL text of its result, so a caller composes a whole transform as one
string and hands it to the JVM in one ``where``/``selectExpr``/``F.expr``
call; building the same tree from ``Column`` objects costs several Py4J
round trips per ``F.*`` call. ``sql_str`` quotes every literal. The
expressions compile wherever their operator does: in the fidelity plan
``py_strip`` sits in the DeviceType Filter, under whole-stage codegen,
but the RaceID and country expressions sit in the final Project beside
the key-list ``from_json``, a ``CodegenFallback``, so they run outside it.

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


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal: ``\\`` and ``'`` escaped, and
    every BMP character ``str.isprintable()`` rejects (all of
    ``PY_WHITESPACE`` but the space, ``\\x00``) written as ``\\uXXXX``,
    so the expression text stays on one readable line."""
    body = s.replace("\\", "\\\\").replace("'", "\\'")
    return "'" + "".join(
        c if c.isprintable() or c > "\uffff" else f"\\u{ord(c):04x}" for c in body
    ) + "'"


def py_strip(e: str) -> str:
    """Python's ``str.strip()``; ``trim`` strips only U+0020."""
    return f"btrim({e}, {sql_str(PY_WHITESPACE)})"


def standardize_race_id(e: str) -> str:
    """Native-expression port of ``standardize_race_id``.

    Letter runs concatenate before digit runs regardless of original order
    ("25 Cup" -> "cup25"); regexp_replace keeps character order within each
    class, exactly like ``"".join(re.findall(...))`` in the reference.
    Null propagates as null (the reference only ever sees strings because
    it defaults missing RaceID to ""; callers should coalesce first if
    they need that behavior).
    """
    letters = f"lower(regexp_replace({e}, '[^A-Za-z]', ''))"
    # Python's \d matches Unicode decimal digits (category Nd), not just
    # ASCII — \p{Nd} is the Java-regex equivalent.
    not_digit = sql_str(r"[^\p{Nd}]")
    digits = f"regexp_replace({e}, {not_digit}, '')"
    fallback = f"lower(regexp_replace({e}, '[^0-9a-zA-Z]', ''))"
    return (f"CASE WHEN {letters} != '' AND {digits} != '' "
            f"THEN concat({letters}, {digits}) ELSE {fallback} END")


def norm_country_key(e: str) -> str:
    """``(name or "").strip().lower()`` — null-safe, whitespace-trimmed,
    lowercased join key (reference src/pipeline.py:42-44)."""
    return "lower(" + py_strip(f"coalesce({e}, '')") + ")"


def apply_country_alias(key: str) -> str:
    """Rewrite an already-normalized key through COUNTRY_ALIAS
    (reference src/pipeline.py:171: ``key = ALIAS.get(key, key)``)."""
    pairs = ", ".join(f"{sql_str(a)}, {sql_str(c)}" for a, c in COUNTRY_ALIAS.items())
    return f"coalesce(map({pairs})[{key}], {key})"
