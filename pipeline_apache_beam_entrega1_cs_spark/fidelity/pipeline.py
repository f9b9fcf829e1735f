"""The fidelity pipeline: reproduces the reference's single dataflow
(reference src/pipeline.py:279-296) as native Spark —

    read text glob -> json-object filter -> DeviceType filter ->
    RaceID normalization -> country lookup -> KEEP projection -> JSONL sink

Zero Python UDFs and no join: every transform is a Catalyst expression,
so the whole chain is ONE narrow stage, one Spark job per batch pass (the
Spark analog of Beam DirectRunner's ParDo fusion). Each line is parsed
once (``sources/jsonl.py``). Only the DeviceType Filter runs under
whole-stage codegen: ``from_json`` is a ``CodegenFallback``, so the
text scan, the parse Project, the Generate that emits the kept struct
and the final Project (whose RaceID branch holds the key-list parse) run
outside it. The country table is the reference's in-memory dict (reference
src/pipeline.py:270,288), read in plain Python by ``read_country_lut``
and looked up through one literal map, so batch and stream share one
definition.

The plan is built from SQL expression text (``functions/strings.py``):
each transform is one ``where``/``withColumn``/``selectExpr`` call whose
text the JVM parses, the country map included, so building the plan
costs a few dozen Py4J round trips whatever the size of the CSV. Built
from ``Column`` objects, every ``F.*`` call is several round trips, and
the country map alone is several per field of every CSV row.

Fidelity traps replicated (SURVEY.md §7 known-hard list):
- missing/null DeviceType is KEPT (``str(None)``/"" != "Other");
- padded " Other " is dropped (``.strip()`` before compare);
- UK/USA facts alias-rewrite to long names, MISS the LUT (which back-fills
  aliases canonical-only) and get the fallback struct -> 28 golden rows;
- ``LocationData`` has a field literally named "official language";
- ``Timestamp`` stays an opaque string.
"""

from __future__ import annotations

import argparse
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.strings import (
    apply_country_alias,
    norm_country_key,
    py_strip,
    sql_str,
    standardize_race_id,
)
from ..schemas import FAN_ENGAGEMENT_SCHEMA, KEEP, LOCATION_FIELDS, LOCATION_SCHEMA
from ..sources.csv_tolerant import read_country_lut
from ..sources.jsonl import read_jsonl_dicts, stream_jsonl_dicts


def filter_device_other(df: DataFrame) -> DataFrame:
    """Drop rows whose ``str.strip()``-ed DeviceType equals "Other" (reference
    src/pipeline.py:147-151). Null-safe: a bare ``!=`` would silently drop
    null DeviceType rows under SQL three-valued logic, but the reference
    KEEPS them — hence the coalesce."""
    return df.where(py_strip("coalesce(DeviceType, '')") + " != 'Other'")


JSON_KEYS_COL = "_json_keys"


def standardize_race(df: DataFrame) -> DataFrame:
    """Normalize RaceID (reference src/pipeline.py:154-159).

    Reference semantics are three-way: an ABSENT key defaults to "" via
    ``row.get("RaceID", "")`` (normalizes to ""), but an explicit JSON
    ``null`` is returned UNCHANGED by standardize_race_id's
    ``isinstance(str)`` guard (src/pipeline.py:28-30). The source's raw
    key list (``JSON_KEYS_COL``) tells the two apart. It is read only in
    the null-RaceID branch, so its parse runs only on those rows."""
    race = (f"CASE WHEN RaceID IS NOT NULL THEN {standardize_race_id('RaceID')} "
            f"WHEN array_contains({JSON_KEYS_COL}, 'RaceID') THEN CAST(NULL AS STRING) "
            "ELSE '' END")
    return df.withColumn("RaceID", F.expr(race))


def _location(values: list[str]) -> str:
    """``named_struct`` of the ``LocationData`` fields over SQL values."""
    return "named_struct(" + ", ".join(
        f"{sql_str(f)}, {v}" for f, v in zip(LOCATION_FIELDS, values)) + ")"


def enrich_with_country(df: DataFrame, country_lut: dict[str, tuple[str, ...]]) -> DataFrame:
    """Country lookup + fallback struct (reference src/pipeline.py:162-182).
    The fact-side key is normalized then alias-rewritten BEFORE lookup
    (reference :170-171). The LUT is one map literal, cast so an empty LUT
    still yields a ``LocationData`` struct; a matched payload is never
    falsy here (struct of 5 strings), so the reference's
    ``lut.get(key) or fallback`` is a null coalesce."""
    key = apply_country_alias(norm_country_key("ViewerLocationCountry"))
    entries = ", ".join(f"{sql_str(k)}, {_location([sql_str(v) for v in payload])}"
                        for k, payload in country_lut.items())
    fields = ", ".join(f"`{f.name}`: {f.dataType.simpleString()}" for f in LOCATION_SCHEMA)
    lookup = f"CAST(map({entries}) AS map<string, struct<{fields}>>)"
    fallback = _location([py_strip("coalesce(ViewerLocationCountry, '')")]
                         + ["''"] * (len(LOCATION_FIELDS) - 1))
    return df.selectExpr("* EXCEPT (ViewerLocationCountry)",
                         f"coalesce({lookup}[{key}], {fallback}) AS LocationData")


def project_output(df: DataFrame) -> DataFrame:
    """Keep exactly the 8 KEEP fields in order (reference
    src/pipeline.py:185-200)."""
    return df.selectExpr(*KEEP)


def _transforms(events: DataFrame, country_lut: dict[str, tuple[str, ...]]) -> DataFrame:
    return project_output(
        enrich_with_country(standardize_race(filter_device_other(events)), country_lut)
    )


def build_fidelity_df(spark: SparkSession, json_glob: str, csv_path: str) -> DataFrame:
    """Assemble the full lazy plan (the analog of the reference's Beam
    graph construction at src/pipeline.py:279-296)."""
    events = read_jsonl_dicts(spark, json_glob, FAN_ENGAGEMENT_SCHEMA, keys_col=JSON_KEYS_COL)
    return _transforms(events, read_country_lut(csv_path))


def build_fidelity_stream(spark: SparkSession, json_glob: str, csv_path: str) -> DataFrame:
    """The same pipeline under Structured Streaming: a text file-source
    stream through the identical transform chain (all narrow, legal in
    append mode). One pipeline definition, two execution modes — the
    declarative-plan payoff the reference's DoFn chain can't offer."""
    events = stream_jsonl_dicts(spark, json_glob, FAN_ENGAGEMENT_SCHEMA, keys_col=JSON_KEYS_COL)
    return _transforms(events, read_country_lut(csv_path))


def write_jsonl(df: DataFrame, out_dir: str, single_shard: bool = True,
                prefix: str | None = None) -> None:
    """JSONL sink. ``single_shard`` replicates the reference's
    ``num_shards=1`` (src/pipeline.py:296) — an explicit anti-scale choice
    kept only for golden fidelity; at scale leave sharding to Spark.

    With ``prefix``, the single shard is renamed to the reference's exact
    output name ``<prefix>-00000-of-00001.jsonl`` (src/pipeline.py:292-296)
    inside ``out_dir``."""
    writer = df.coalesce(1) if single_shard else df
    writer.write.mode("overwrite").json(out_dir)
    if prefix is not None and single_shard:
        parts = list(Path(out_dir).glob("part-*.json"))
        if len(parts) == 1:
            parts[0].replace(Path(out_dir) / f"{prefix}-00000-of-00001.jsonl")


def resolve_paths(
    root: Path, output_folder: str, json_glob: str | None, csv_path: str | None
) -> tuple[str, str, str]:
    """Path resolution with CSV fallback candidates (reference
    src/pipeline.py:232-256)."""
    glob = json_glob or str(root / "input" / "*fan_engagement-000-of-001.json")
    if not csv_path:
        candidates = [
            root / "input_side" / "country_data_v2.csv",
            root / "input side" / "country_data_v2.csv",
        ]
        csv_path = str(next((p for p in candidates if p.exists()), candidates[0]))
    out_dir = root / output_folder
    out_dir.mkdir(parents=True, exist_ok=True)
    return glob, csv_path, str(out_dir)


def main(argv: list[str] | None = None) -> None:
    """CLI entry (reference src/pipeline.py:206-229): same flags, with
    --runner replaced by Spark's local master."""
    parser = argparse.ArgumentParser(description="HRL fan-engagement ETL (PySpark)")
    parser.add_argument("--input_json_glob", default=None)
    parser.add_argument("--input_csv", default=None)
    parser.add_argument("--output_folder", default="output")
    parser.add_argument("--output_prefix", default="result")
    parser.add_argument("--root", default=os.getcwd())
    args = parser.parse_args(argv)

    from ..session import get_spark

    spark = get_spark("hrl-fidelity")
    glob, csv_path, out_dir = resolve_paths(
        Path(args.root), args.output_folder, args.input_json_glob, args.input_csv
    )
    write_jsonl(build_fidelity_df(spark, glob, csv_path), out_dir,
                prefix=args.output_prefix)


if __name__ == "__main__":
    main()
