"""Tolerant CSV dimension-table source.

Builds the country lookup table the way the reference's
``build_country_lut`` does (reference src/pipeline.py:56-130): once, in
plain Python before any Spark job, as a dict read with the ``csv``
module. The table is small by construction (a country table), so Spark
only ever sees it as a literal map in the enrichment expression.

- delimiter sniffing over ``; , | \\t`` from a 4 KiB sample
  (reference :88-94);
- UTF-8 BOM stripped by the ``utf-8-sig`` codec (reference :87); quoted
  fields may span lines;
- header aliasing: each logical field accepts many spellings, matched
  after lowercasing and removing spaces/underscores/hyphens
  (reference ``FIELD_ALIASES``/:67-80, ``_norm_header``/:82-83); per
  field, the first non-empty stripped value across its alias columns
  (reference ``get_value``/:98-107);
- rows with empty country skipped (reference :111-112);
- duplicate (normalized) country keys: LAST occurrence wins
  (reference :123 ``lut[key] = payload``);
- alias keys (usa/us/u.s./uk/uae) back-filled ONLY when the canonical
  long name is already a key, overwriting a same-named row
  (reference :126-128) — the asymmetry that produces the 28 fallback rows
  in the golden output.
"""

from __future__ import annotations

import csv
import io
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..functions.strings import COUNTRY_ALIAS
from ..schemas import LOCATION_SCHEMA, driver_frame

# Logical field -> accepted header spellings (reference src/pipeline.py:67-80),
# in LocationData field order (schemas.LOCATION_FIELDS).
FIELD_ALIASES: dict[str, list[str]] = {
    "country": ["Country", "Country Name", "Country_Name", "CountryName", "Name"],
    "capital": ["Capital", "Capital City", "Capital_City", "CapitalCity"],
    "continent": ["Continent", "Continent Name", "Region", "Subregion"],
    "official language": [
        "Main Official Language", "Main_Official_Language",
        "Official Language", "Official_Language",
        "Language", "Languages",
    ],
    "currency": [
        "Currency", "Currency Code", "Currency_Code",
        "Currency Name", "Currency_Name", "CurrencyName", "ISO Currency",
    ],
}


def _norm_header(h: str) -> str:
    """Lowercase + strip spaces/underscores/hyphens (reference :82-83)."""
    return re.sub(r"[\s_\-]+", "", (h or "").strip().lower())


def sniff_delimiter(csv_path: str) -> str:
    """Sniff the delimiter from a 4 KiB sample (reference :88-94);
    comma on failure."""
    with io.open(csv_path, "r", encoding="utf-8-sig", newline="") as f:
        sample = f.read(4096)
    try:
        dialect = csv.Sniffer().sniff(sample, delimiters=";,|\t,")
        return dialect.delimiter
    except Exception:
        return ","


def read_country_lut(csv_path: str) -> dict[str, tuple[str, ...]]:
    """Read the country CSV into ``{normalized country: (country, capital,
    continent, official language, currency)}``, the reference's LUT with
    each payload as a tuple in ``FIELD_ALIASES`` order."""
    delim = sniff_delimiter(csv_path)
    lut: dict[str, tuple[str, ...]] = {}
    with io.open(csv_path, "r", encoding="utf-8-sig", newline="") as f:
        reader = csv.DictReader(f, delimiter=delim)
        header_map = {_norm_header(h): h for h in reader.fieldnames or []}
        columns = [
            [header_map[n] for n in map(_norm_header, aliases) if n in header_map]
            for aliases in FIELD_ALIASES.values()
        ]
        for row in reader:
            payload = tuple(
                next((v for v in ((row.get(c) or "").strip() for c in cols) if v), "")
                for cols in columns
            )
            if payload[0]:
                lut[payload[0].lower()] = payload
    for alias, canonical in COUNTRY_ALIAS.items():
        if canonical in lut:
            lut[alias] = lut[canonical]
    return lut


def read_country_dim(spark: SparkSession, csv_path: str) -> DataFrame:
    """The country LUT as a 6-column DataFrame: ``key`` (normalized
    country) + the 5 payload fields of LocationData."""
    schema = T.StructType([T.StructField("key", T.StringType()), *LOCATION_SCHEMA.fields])
    rows = [(key, *payload) for key, payload in read_country_lut(csv_path).items()]
    return driver_frame(spark, rows, schema)
