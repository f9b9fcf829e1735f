"""Scale-idiom demonstrations with plan-shape assertions: bucketed
co-located joins (no shuffle), broadcast joins (no fact-side exchange),
seeded sampling bounds, and the fidelity pipeline under Structured
Streaming."""

from __future__ import annotations

import ast
import io
import json
import re
import threading
import tokenize
from collections import Counter, defaultdict
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import explain_audit
from explain_audit import (
    JOINS,
    entry_plans,
    has_single_partition_window,
    operator_counts,
    physical_plan,
    smells,
)


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Tables bucketed on the join key co-locate: the join runs with NO
    Exchange on either side — the bucketing contract that turns a daily
    100 TB join into a shuffle-free merge."""
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    import shutil

    # DROP TABLE only clears the in-memory catalog; stale files from a
    # previous session make saveAsTable refuse the managed location.
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    for t in ("li_bucketed", "ord_bucketed"):
        shutil.rmtree(f"/tmp/spark_graft_warehouse/{t}", ignore_errors=True)
    load_table(spark, sf_dir, "lineitem").write.bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).mode("overwrite").saveAsTable("li_bucketed")
    load_table(spark, sf_dir, "orders").write.bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).mode("overwrite").saveAsTable("ord_bucketed")

    li = spark.table("li_bucketed")
    orders = spark.table("ord_bucketed").hint("merge")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
        "o_orderstatus"
    ).count()
    plan = physical_plan(joined)
    join_section = plan.split("HashAggregate")[0]
    assert "SortMergeJoin" in plan
    assert "Exchange" not in join_section, f"bucketed join still shuffles:\n{join_section}"

    # and the result matches the unbucketed join
    plain = (
        load_table(spark, sf_dir, "lineitem")
        .join(load_table(spark, sf_dir, "orders"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .count()
    )
    assert Counter(map(tuple, joined.collect())) == Counter(map(tuple, plain.collect()))


def test_broadcast_join_no_fact_exchange(spark, sf_dir):
    from pipeline_apache_beam_entrega1_cs_spark.plans.relational import join_broadcast_dim

    plan = physical_plan(join_broadcast_dim(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    pre_agg = plan.split("HashAggregate")[0]
    assert "Exchange hashpartitioning" not in pre_agg


def test_sample_seeded_bounds(spark, sf_dir):
    from pipeline_apache_beam_entrega1_cs_spark.plans.relational2 import sample_seeded
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    n_total = load_table(spark, sf_dir, "lineitem").count()
    n_sample = sample_seeded(spark, sf_dir).count()
    assert 0.05 * n_total < n_sample < 0.2 * n_total
    # seeded => reproducible within a session/partitioning
    assert sample_seeded(spark, sf_dir).count() == n_sample


def test_auto_broadcast_without_hint(spark, sf_dir):
    """Catalyst must pick a broadcast join for an under-threshold dim on
    its own (autoBroadcastJoinThreshold) — no hint in this plan."""
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    orders = load_table(spark, sf_dir, "orders")
    nation_cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    joined = orders.join(nation_cust, orders.o_custkey == nation_cust.c_custkey).groupBy(
        "c_nationkey"
    ).count()
    plan = physical_plan(joined)
    assert "BroadcastHashJoin" in plan, plan[:800]


def test_foreachbatch_sink(spark, sf_dir, tmp_path):
    """foreachBatch: the custom-sink escape hatch (idempotent writes by
    epoch at scale). Drain the events stream through it into parquet and
    compare counts with the batch source."""
    import uuid

    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table
    from pipeline_apache_beam_entrega1_cs_spark.streaming.windows import _stream_events

    out = str(tmp_path / "fb_out")
    stream = _stream_events(spark, sf_dir).select("event_id", "user_id", "value")

    def write_batch(df, epoch_id):
        df.write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .queryName(f"fb_{uuid.uuid4().hex[:8]}")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "stream did not drain within 120s"
    finally:
        q.stop()
    n_stream = spark.read.parquet(out).count()
    n_batch = load_table(spark, sf_dir, "events").count()
    assert n_stream == n_batch
    assert spark.read.parquet(out).select("event_id").distinct().count() == n_batch


def test_replay_failure_stops_query_and_removes_scratch(spark, tmp_path, monkeypatch):
    """streaming/sinks.replay's failure path: a sink raising on batch 1
    propagates its error, no streaming query is left running, and a
    collecting replay deletes its scratch directory."""
    import tempfile

    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import replay

    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    seen = []

    def failing_sink(state_dir):
        def sink(df, batch_id):
            seen.append(batch_id)
            if batch_id == 1:
                raise RuntimeError("planted failure on batch 1")

        return sink

    raw = spark.range(40).withColumnRenamed("id", "k")
    with pytest.raises(Exception, match="planted failure on batch 1"):
        replay(raw, F.col("k") % 4, failing_sink, lambda st: st)
    assert seen == [0, 1]
    assert spark.streams.active == []
    assert list(scratch.iterdir()) == []


def test_drain_drops_memory_sink_view(spark, sf_dir):
    """streaming/windows._drain drops the memory sink's temp view once
    it has resolved it: no drain_* table outlives the call, and the
    returned frame still counts its rows (one per distinct
    (user_id, event_type) key of the cold one-batch replay)."""
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table
    from pipeline_apache_beam_entrega1_cs_spark.streaming.windows import (
        run_dedup_within_watermark,
    )

    out = run_dedup_within_watermark(spark, sf_dir)
    assert [t.name for t in spark.catalog.listTables()
            if t.name.startswith("drain_")] == []
    keys = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    assert out.count() == keys.distinct().count() > 0


def test_replay_success_removes_scratch_and_result_stays_readable(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A successful replay (streaming_cusum_state, whose per-event
    read-off is corpus-sized) deletes its scratch directory, and the
    returned frame reads no scratch file: it is still readable after
    the call returns."""
    import tempfile

    from pipeline_apache_beam_entrega1_cs_spark.plans.analytics import (
        timeseries_cusum_drift,
    )
    from pipeline_apache_beam_entrega1_cs_spark.plans.windows_batch import (
        streaming_cusum_state,
    )

    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    out = streaming_cusum_state(spark, sf_dir)
    assert list(scratch.iterdir()) == []
    assert out.inputFiles() == []
    assert out.count() == timeseries_cusum_drift(spark, sf_dir).count()


def test_stage_writes_every_slice_in_one_job(spark, tmp_path):
    """streaming/sinks._stage writes all replay slices in ONE Spark job,
    one file per slice, with mtimes in slice order; an empty slice has
    no file, and an empty frame stages one empty file (one batch)."""
    import os
    import uuid

    from pipeline_apache_beam_entrega1_cs_spark.streaming.sinks import _stage

    raw = spark.range(40).withColumnRenamed("id", "k")
    bucket = F.when(F.col("k") % 4 == 2, 3).otherwise(F.col("k") % 4)
    sc = spark.sparkContext
    group = f"stage_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "replay staging")
    try:
        src = _stage(raw, str(tmp_path / "work"), bucket, 4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    files = sorted(os.listdir(src), key=lambda f: os.path.getmtime(f"{src}/{f}"))
    assert files == ["00.parquet", "01.parquet", "03.parquet"]
    seen = []
    for f in files:
        ks = [r.k for r in spark.read.parquet(f"{src}/{f}").collect()]
        assert {3 if k % 4 == 2 else k % 4 for k in ks} == {int(f[:2])}
        seen += ks
    assert sorted(seen) == list(range(40))

    empty = _stage(raw.limit(0), str(tmp_path / "empty"), bucket, 4)
    assert os.listdir(empty) == ["00.parquet"]
    assert spark.read.parquet(f"{empty}/00.parquet").count() == 0


def _canon_rows(df):
    return Counter(
        json.dumps(r.asDict(recursive=True), sort_keys=True, ensure_ascii=False)
        for r in df.collect()
    )


def test_fidelity_pipeline_streaming(spark):
    """The reference ETL executed as a Structured Streaming job produces
    exactly the batch (= golden) result."""
    from pipeline_apache_beam_entrega1_cs_spark.fidelity.pipeline import (
        build_fidelity_df,
        build_fidelity_stream,
    )
    from pipeline_apache_beam_entrega1_cs_spark.streaming.windows import _drain

    glob = "/root/reference/input/*fan_engagement-000-of-001.json"
    csv = "/root/reference/input_side/country_data_v2.csv"
    stream_out = _drain(build_fidelity_stream(spark, glob, csv), "append")
    batch_out = build_fidelity_df(spark, glob, csv)

    s, b = _canon_rows(stream_out), _canon_rows(batch_out)
    assert sum(s.values()) == 237
    assert s == b


def _small_fidelity_input(tmp_path, extra_countries: int = 0):
    """A few fan events and a country CSV covering the fidelity traps:
    UK/USA alias fallbacks, a padded Other, a null and an absent RaceID,
    and LUT text that SQL quoting must carry (a quote, a backslash);
    ``extra_countries`` appends that many more CSV rows."""
    csv = tmp_path / "countries.csv"
    csv.write_text(
        "Country,Capital,Continent,Main_Official_Language,Currency\n"
        "UK,London,Europe,English,GBP\n"
        "USA,Washington,North America,English,USD\n"
        "Brazil,Brasília,South America,Portuguese,BRL\n"
        "Côte d'Ivoire,Yamoussoukro\\Abidjan,Africa,French,XOF\n"
        + "".join(f"Land {i},City {i},C,L,X{i}\n" for i in range(extra_countries)),
        encoding="utf-8",
    )
    events = [
        {"FanID": "f1", "RaceID": "Cup 25", "DeviceType": "Mobile", "ViewerLocationCountry": "UK"},
        {"FanID": "f2", "RaceID": "race_11", "DeviceType": " Other ", "ViewerLocationCountry": "Brazil"},
        {"FanID": "f3", "RaceID": None, "DeviceType": "Web", "ViewerLocationCountry": "USA"},
        {"FanID": "f4", "DeviceType": None, "ViewerLocationCountry": " brazil "},
        {"FanID": "f5", "RaceID": "c\\1", "DeviceType": "Web", "ViewerLocationCountry": "côte d'ivoire"},
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "part-0.json").write_text(
        "\n".join(json.dumps(e, ensure_ascii=False) for e in events) + "\n", encoding="utf-8"
    )
    return str(in_dir / "*.json"), str(csv)


def test_fidelity_stream_equals_batch_on_small_input(spark, tmp_path):
    """Batch and stream share one definition, so they agree row for row;
    the batch rows carry the reference's answers."""
    from pipeline_apache_beam_entrega1_cs_spark.fidelity.pipeline import (
        build_fidelity_df,
        build_fidelity_stream,
    )
    from pipeline_apache_beam_entrega1_cs_spark.streaming.windows import _drain

    glob, csv = _small_fidelity_input(tmp_path)
    stream_out = _drain(build_fidelity_stream(spark, glob, csv), "append")
    batch_out = build_fidelity_df(spark, glob, csv)

    assert _canon_rows(stream_out) == _canon_rows(batch_out)
    got = {
        r.FanID: (r.RaceID, r.LocationData.country, r.LocationData.capital)
        for r in batch_out.collect()
    }
    assert got == {
        "f1": ("cup25", "UK", ""),
        "f3": (None, "USA", ""),
        "f4": ("", "Brazil", "Brasília"),
        "f5": ("c1", "Côte d'Ivoire", "Yamoussoukro\\Abidjan"),
    }


def test_fidelity_plan_is_one_narrow_stage(spark, tmp_path):
    """The country lookup is a literal map, not a join: the whole batch
    plan has no Exchange and no Join."""
    from pipeline_apache_beam_entrega1_cs_spark.fidelity.pipeline import build_fidelity_df

    plan = physical_plan(build_fidelity_df(spark, *_small_fidelity_input(tmp_path)))
    assert "Exchange" not in plan and "Join" not in plan, plan


def test_fidelity_plan_parses_each_line_once(spark, tmp_path):
    """The executed batch plan holds one typed parse of the line; the
    key-list map parse sits only in the null-RaceID branch and the strict
    string-array parse only in the rare-token branch. A Filter pushed back
    through the parse projection would add a second typed parse."""
    from pipeline_apache_beam_entrega1_cs_spark.fidelity.pipeline import build_fidelity_df

    df = build_fidelity_df(spark, *_small_fidelity_input(tmp_path))
    plan = re.sub(r"#\d+", "", df._jdf.queryExecution().executedPlan().toString())
    assert plan.count("from_json(ArrayType(StructType(") == 1, plan
    maps = "from_json(MapType(StringType,StringType"
    assert plan.count(maps) == 1, plan
    assert re.search(r"CASE WHEN isnotnull\(rec\.RaceID\) THEN .* WHEN array_contains\(map_keys\("
                     + re.escape(maps), plan), plan
    strict = "from_json(ArrayType(StringType"
    assert plan.count(strict) == 1, plan
    assert re.search(r"CASE WHEN \(\(Contains\(value, INF\) OR Contains\(value, \+Infinity\)\) "
                     r"OR Contains\(value, \]\)\) THEN \(size\(" + re.escape(strict), plan), plan


def test_fidelity_build_makes_few_py4j_calls(spark, tmp_path, monkeypatch):
    """Building the batch plan or the stream costs a few dozen Py4J round
    trips, whatever the size of the country CSV: each transform is one
    call carrying SQL text, and the country table is one literal in it.
    Counted on this thread: the client's finalizer thread detaches freed
    Java objects on its own schedule."""
    from py4j.clientserver import ClientServerConnection

    from pipeline_apache_beam_entrega1_cs_spark.fidelity.pipeline import (
        build_fidelity_df,
        build_fidelity_stream,
    )

    me, send, calls = threading.get_ident(), ClientServerConnection.send_command, [0]

    def counting(self, *args, **kwargs):
        calls[0] += threading.get_ident() == me
        return send(self, *args, **kwargs)

    counts = {}
    for rows in (0, 196):  # a 4-row and a 200-row CSV
        (tmp_path / f"lut{rows}").mkdir()
        inputs = _small_fidelity_input(tmp_path / f"lut{rows}", extra_countries=rows)
        for build in (build_fidelity_df, build_fidelity_stream):
            build(spark, *inputs)  # first build of a kind loads JVM classes
            monkeypatch.setattr(ClientServerConnection, "send_command", counting)
            calls[0] = 0
            build(spark, *inputs)
            monkeypatch.undo()
            counts[rows, build.__name__] = calls[0]
    assert all(n <= 60 for n in counts.values()), counts
    assert counts[0, "build_fidelity_df"] == counts[196, "build_fidelity_df"], counts
    assert counts[0, "build_fidelity_stream"] == counts[196, "build_fidelity_stream"], counts


def test_audit_scan_lines_erase_expression_ids():
    """EXPLAIN.md's scan lines carry no session expression id, so two
    regenerations on one tree print the same bytes."""
    plan = ("PushedFilters: [IsNotNull(p_retailprice), GreaterThan(p_retailprice,"
            "ScalarSubquery#7824)]\nReadSchema: struct<p_partkey:bigint,p_name:string>")
    assert explain_audit.scan_lines(plan) == explain_audit.scan_lines(
        plan.replace("#7824", "#7826")
    ) == [
        "- pushed filters: 1 scan(s), e.g. "
        "`IsNotNull(p_retailprice), GreaterThan(p_retailprice,ScalarSubquery#)`",
        "- first scan reads 2 column(s): `p_partkey:bigint,p_name:string`",
    ]
    assert explain_audit.scan_lines("no scan") == [
        "- pushed filters: none (no scan-level predicates in this plan)"
    ]


def test_audit_scan_lines_count_nested_columns():
    """The first scan's columns are split outside ``<..>`` and ``(..)``:
    a nested type or a ``decimal(p,s)`` is one column, printed whole."""
    schema = "id:bigint,embedding:array<float>,price:decimal(12,2),m:map<string,struct<a:int>>"
    plan = f"ReadSchema: struct<{schema}>\nReadSchema: struct<x:int>"
    assert explain_audit.scan_lines(plan)[1] == f"- first scan reads 4 column(s): `{schema}`"
    assert explain_audit.scan_lines("ReadSchema: struct<>")[1] == (
        "- first scan reads 0 column(s): ``"
    )


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """Partitioned fact + filtered dim join triggers DPP: the fact scan
    gets a runtime partition filter from the dim side, so only matching
    year-partitions are read — the difference between scanning 100 TB
    and scanning one year of it."""
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    fact_dir = str(tmp_path / "orders_by_year")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    orders.write.mode("overwrite").partitionBy("o_year").parquet(fact_dir)

    fact = spark.read.parquet(fact_dir)
    # DPP inserts the runtime filter only when the build side has a
    # SELECTIVE predicate (bare isnotnull doesn't qualify), so filter
    # the dim the way a real "current period" dim lookup would.
    dim = spark.createDataFrame(
        [(1997, "pick"), (1900, "skip")], "d_year INT, tag STRING"
    ).filter(F.col("tag") == "pick")
    joined = fact.join(F.broadcast(dim), fact.o_year == dim.d_year).groupBy(
        "tag"
    ).agg(F.count(F.lit(1)).alias("n"))
    plan = physical_plan(joined)
    assert "dynamicpruning" in plan.lower(), f"no DPP in plan:\n{plan}"

    n = joined.collect()[0]["n"]
    expected = orders.filter(F.col("o_year") == 1997).count()
    assert n == expected


def test_runtime_bloom_filter_join(spark, sf_dir):
    """Runtime bloom-filter join pruning (the row-level sibling of DPP):
    for a sort-merge join with a selective dim-side filter, Spark builds
    a bloom filter from the dim keys and applies might_contain on the
    fact side BEFORE the shuffle — at 100 TB that drops non-matching
    fact rows at the scan instead of shuffling them. Enabled by default
    in Spark 4; the size thresholds only exist to skip it for toy
    inputs, so lower them to demonstrate the plan shape."""
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderstatus"
        ).agg(F.count(F.lit(1)).alias("n"))
        plan = physical_plan(joined)
        assert "bloom_filter_agg" in plan, f"no bloom build side:\n{plan[:2000]}"
        assert "might_contain" in plan, f"no bloom probe on the fact side:\n{plan[:2000]}"
        bloom_result = Counter(map(tuple, joined.collect()))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)

    plain = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "orders").filter(
                F.col("o_orderpriority") == "1-URGENT"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert bloom_result == Counter(map(tuple, plain.collect()))


def test_observe_single_pass_metrics(spark, sf_dir):
    """df.observe(): pipeline quality metrics (row count, null count,
    revenue total) accumulated DURING the write action — no second scan.
    At 100 TB a separate metrics pass doubles the job; observe() makes
    it free."""
    from pyspark.sql import Observation

    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("quality")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("null_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("gross"),
    )
    observed.write.format("noop").mode("overwrite").save()
    metrics = obs.get

    expected = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double").alias("g"),
    ).collect()[0]
    assert metrics["n_rows"] == expected["n"]
    assert metrics["null_qty"] == 0
    assert metrics["gross"] == expected["g"]


def test_single_partition_window_detector(spark, sf_dir):
    """The detector itself: fires on a real global-ORDER-BY window plan
    (including one with interposed Project/Filter nodes the old 2-node
    scan missed) and stays quiet on a partitioned window and on a 1-row
    global aggregate."""
    from pyspark.sql import Window

    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    li = load_table(spark, sf_dir, "lineitem")
    w_global = Window.orderBy("l_extendedprice")
    flagged = li.withColumn("rn", F.row_number().over(w_global))
    assert has_single_partition_window(physical_plan(flagged))
    # consumer further away than the detail numbering's +2: Window above
    # a Project above a Filter above the Sort fed by the exchange
    flagged_far = (
        li.withColumn("rn", F.row_number().over(w_global))
        .filter(F.col("rn") > 0)
        .select("l_orderkey", "l_extendedprice", "rn")
        .withColumn("lead_key", F.lead("l_orderkey").over(w_global))
    )
    assert has_single_partition_window(physical_plan(flagged_far))

    w_part = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    ok = li.withColumn("rn", F.row_number().over(w_part))
    assert not has_single_partition_window(physical_plan(ok))
    one_row = li.agg(F.sum("l_quantity").alias("s"))
    assert not has_single_partition_window(physical_plan(one_row))


def test_join_counts_are_per_operator_not_per_line(spark, sf_dir):
    """q3 joins three tables: two joins, though each operator's name is
    printed on its tree line and again on its detail line."""
    from pipeline_apache_beam_entrega1_cs_spark.plans.registry import all_queries

    live, _ = operator_counts(physical_plan(all_queries()["q3_shipping_priority"].fn(spark, sf_dir)))
    assert sum(live[j] for j in JOINS) == 2


def test_cached_subtree_counts_once(spark):
    """A materialized cache referenced by both sides of a self-join is
    printed twice, each time with its final and initial adaptive plan;
    its one exchange counts once, as cached, not as this plan's."""
    grouped = spark.range(100).withColumn("k", F.col("id") % 7).groupBy("k").count().cache()
    try:
        grouped.count()
        live, cached = operator_counts(physical_plan(grouped.alias("a").join(grouped.alias("b"), "k")))
        assert cached["Exchange"] == 1 and live["Exchange"] == 0
    finally:
        grouped.unpersist()


def test_entry_plans_sees_build_time_executions(spark, sf_dir):
    """A BNLJ collected while the frame is built never shows in the
    returned frame's plan; entry_plans reports it from the build's SQL
    execution."""
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    def entry(spark, sf_dir):
        nation = load_table(spark, sf_dir, "nation")
        pairs = nation.alias("a").crossJoin(nation.alias("b")).where(
            F.col("a.n_nationkey") < F.col("b.n_nationkey")).collect()
        return spark.createDataFrame([(len(pairs),)], "pairs long")

    df, plan, builds = entry_plans(spark, entry, sf_dir)
    assert df.collect()[0].pairs == 300
    assert "bnlj" not in smells(plan)
    assert any("bnlj" in smells(b) for b in builds)


def test_entry_plans_raises_when_status_store_fails(spark, sf_dir, monkeypatch):
    """An unreadable status store fails the capture, never reads as "the
    build ran no executions"."""
    class Unreadable:
        def __getattr__(self, name):
            raise RuntimeError("status store unavailable")

    monkeypatch.setattr(explain_audit, "_sql_store", lambda spark: Unreadable())
    with pytest.raises(RuntimeError, match="status store unavailable"):
        entry_plans(spark, lambda spark, sf_dir: spark.range(1), sf_dir)


@pytest.fixture(scope="module")
def registry_smells(spark, sf_dir):
    """{entry: (plan_waivers, smells)} for every gated registry entry,
    each built once: the smells of its returned plan together with those
    of every SQL execution it ran while building (pins, caches, eager
    fits, layout writes)."""
    from pipeline_apache_beam_entrega1_cs_spark.plans.registry import all_queries

    out = {}
    for name, spec in all_queries().items():
        if not name.startswith(explain_audit.SIDE_EFFECT_PREFIXES):
            _, plan, builds = entry_plans(spark, spec.fn, sf_dir)
            out[name] = (spec.plan_waivers or {}, set().union(*map(smells, [plan, *builds])))
    return out


def test_no_cartesian_in_registry_plans(registry_smells):
    """Scale guard (the explain-audit, promoted to a regression gate): no
    registry plan may contain a CartesianProduct; BroadcastNestedLoopJoin
    is allowed only where the broadcast side is a provably tiny
    scalar/query set; and a Window fed by an Exchange SinglePartition —
    the global-sort-into-one-task shape — is allowed only where the
    window input cardinality is scale-independent or the entry is the
    documented exact-tier exception. The plans are the returned frame's
    and those of every SQL execution the entry ran while building it.
    Sanctions are NOT hardcoded here: each lives on its operator's
    QuerySpec.plan_waivers with a justification (plans/spec.py), so the
    registry stays the single source of truth and a new entry can't ride
    an unrelated waiver."""
    failures = []
    for name, (waivers, found) in registry_smells.items():
        if "cartesian" in found:
            failures.append(f"{name}: CartesianProduct")
        if "bnlj" in found and "bnlj" not in waivers:
            failures.append(f"{name}: unsanctioned BroadcastNestedLoopJoin")
        if "global_window" in found and "global_window" not in waivers:
            failures.append(f"{name}: single-partition Window")
    assert not failures, f"scale smells in plans: {failures}"


def test_plan_waivers_not_stale(registry_smells):
    """Every declared waiver must still be needed: a waiver whose smell
    no longer appears in the returned plan or any build execution is
    dead weight that could silently sanction a future regression."""
    stale = []
    for name, (waivers, found) in registry_smells.items():
        if "bnlj" in waivers and "bnlj" not in found:
            stale.append(f"{name}: bnlj waiver but no BNLJ in plan")
        if "global_window" in waivers and "global_window" not in found:
            stale.append(f"{name}: global_window waiver but no such shape")
    assert not stale, f"stale plan waivers: {stale}"


def test_registry_bucketed_join_shuffle_free(spark, sf_dir):
    """The join_bucketed REGISTRY entry (not just the idiom) must run its
    SortMergeJoin with no Exchange on either side — bucket layout
    satisfies the join's required distribution."""
    from pipeline_apache_beam_entrega1_cs_spark.plans.relational2 import join_bucketed

    plan = physical_plan(join_bucketed(spark, sf_dir))
    join_section = plan.split("HashAggregate")[0]
    assert "SortMergeJoin" in plan
    assert "Exchange" not in join_section, f"bucketed join still shuffles:\n{join_section}"


def test_compaction_yields_one_file_per_bucket(spark, sf_dir):
    """The compaction entry's physical outcome (not just its report):
    the rewritten table must hold exactly ONE file per range bucket —
    64 fragments in, 8 range-clustered files out — and each file's rows
    span a single bucket."""
    from pipeline_apache_beam_entrega1_cs_spark.plans.pipeline_ops import (
        maintenance_compact_small_files,
    )

    import os

    maintenance_compact_small_files(spark, sf_dir).collect()  # writes both dirs
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    back = spark.read.parquet(
        f"/tmp/spark_graft_compact/{tag}-{os.getpid()}/compact"
    )
    files = (
        back.select("bucket", F.input_file_name().alias("f"))
        .groupBy("bucket")
        .agg(F.countDistinct("f").alias("n_files"))
        .collect()
    )
    assert len(files) == 8
    assert all(r["n_files"] == 1 for r in files), files


def test_interval_overlap_blocking_is_lossless(spark, sf_dir):
    """Bucket blocking must be LOSSLESS: the week-bucketed overlap join
    returns exactly the pairs a direct theta join over the same samples
    finds — including intervals that straddle bucket boundaries — and
    its plan contains no nested-loop join."""
    from collections import Counter

    from pipeline_apache_beam_entrega1_cs_spark.plans.relational2 import (
        join_interval_overlap,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    out = join_interval_overlap(spark, sf_dir)
    plan = physical_plan(out)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 997 == 0)
        .select(
            "l_orderkey", "l_linenumber",
            F.to_date("l_shipdate").alias("ls"),
            F.date_add(F.to_date("l_shipdate"), 3).alias("le"),
        )
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 13 == 0)
        .select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("os"),
            F.date_add(F.to_date("o_orderdate"), 7).alias("oe"),
        )
    )
    direct = (
        li.crossJoin(orders)
        .filter((F.col("ls") <= F.col("oe")) & (F.col("os") <= F.col("le")))
        .select(
            "l_orderkey",
            F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
            "o_orderkey",
            (F.datediff(F.least("le", "oe"), F.greatest("ls", "os")) + 1)
            .cast("bigint")
            .alias("overlap_days"),
        )
    )
    assert Counter(map(tuple, out.collect())) == Counter(map(tuple, direct.collect()))


def test_zorder_files_are_two_dimensional_tiles(spark, sf_dir):
    """The Z-order layout's physical outcome: one file per Z-range, and
    every file's rows stay inside a 4x4 tile of (doc_id, n_chars)
    bucket space — min/max parquet bounds prune on BOTH dimensions. A
    single-key range layout over the same data bounds doc_id the same
    way but lets n_chars sprawl: the mean per-file n_chars-bucket span
    must be strictly wider than Z-order's (the reason the operator
    exists)."""
    import os

    from pipeline_apache_beam_entrega1_cs_spark.plans.pipeline_ops import (
        maintenance_zorder_layout,
    )

    report = maintenance_zorder_layout(spark, sf_dir).collect()
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    out_dir = f"/tmp/spark_graft_zorder/{tag}-{os.getpid()}"
    back = spark.read.parquet(out_dir)

    files = (
        back.select("zfile", F.input_file_name().alias("f"))
        .groupBy("zfile")
        .agg(F.countDistinct("f").alias("n_files"))
        .collect()
    )
    assert all(r["n_files"] == 1 for r in files), files

    for r in report:
        assert r["max_bx"] - r["min_bx"] <= 3, r
        assert r["max_by"] - r["min_by"] <= 3, r

    # contrast: single-key layout = group the same rows by bx-range
    # (doc_id div) only; per-group n_chars-bucket span sprawls
    single = (
        back.withColumn("kfile", F.expr("bx div 4"))
        .groupBy("kfile")
        .agg((F.max("by") - F.min("by")).alias("by_span"))
        .collect()
    )
    z_mean = sum(r["max_by"] - r["min_by"] for r in report) / len(report)
    k_mean = sum(r["by_span"] for r in single) / len(single)
    assert k_mean > z_mean, (k_mean, z_mean)


def test_bloom_prefilter_shape(spark, sf_dir):
    """join_bloom_prefilter's physical plan must show the runtime-filter
    shape: a broadcast LeftSemi join (the occupied-bucket prefilter)
    feeding a SortMergeJoin (the hinted shuffle join it is there to
    shrink). If the semi-join vanished the entry would still be correct
    but the 100 TB shuffle-reduction demonstration would be gone."""
    from pipeline_apache_beam_entrega1_cs_spark.plans.relational2 import (
        join_bloom_prefilter,
    )

    plan = physical_plan(join_bloom_prefilter(spark, sf_dir))
    assert "SortMergeJoin" in plan, plan
    semi = [
        ln
        for ln in plan.splitlines()
        if "BroadcastHashJoin" in ln and "LeftSemi" in ln
    ]
    assert semi, f"no broadcast LeftSemi prefilter in plan:\n{plan}"
    # the semi-join must sit BELOW the SMJ (prefilter before shuffle)
    assert plan.index("LeftSemi") != -1 and "Exchange" in plan


def test_bloom_prefilter_is_selective(spark, sf_dir):
    """The bucket prefilter must actually drop probe rows at test SF
    (one week of orders occupies far fewer than _BLOOM_BUCKETS buckets),
    otherwise the demonstration is vacuous."""
    from pyspark.sql import functions as F

    from pipeline_apache_beam_entrega1_cs_spark.plans.relational2 import (
        _BLOOM_BUCKETS,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("2001-03-01").cast("date"))
        & (F.col("o_orderdate") <= F.lit("2001-03-07").cast("date"))
    )
    n_occupied = (
        orders.select(
            F.pmod(F.xxhash64("o_orderkey"), F.lit(_BLOOM_BUCKETS)).alias("b")
        )
        .distinct()
        .count()
    )
    li = load_table(spark, sf_dir, "lineitem")
    total = li.count()
    kept = li.filter(
        F.pmod(F.xxhash64("l_orderkey"), F.lit(_BLOOM_BUCKETS)).isin(
            # tiny at test SF; collect is bounded by _BLOOM_BUCKETS
            [
                r["b"]
                for r in orders.select(
                    F.pmod(
                        F.xxhash64("o_orderkey"), F.lit(_BLOOM_BUCKETS)
                    ).alias("b")
                )
                .distinct()
                .collect()
            ]
        )
    ).count()
    assert n_occupied < _BLOOM_BUCKETS / 4
    assert kept < total / 2, (kept, total)


def test_dpp_prunes_partitions(spark, sf_dir):
    """join_dynamic_partition_pruning's fact scan must carry BOTH a
    dynamicpruningexpression (runtime pruning from the dim's broadcast)
    and the statically-inferred partition predicate; together they keep
    the scan to the 2/5 surviving partitions."""
    from pipeline_apache_beam_entrega1_cs_spark.plans.relational2 import (
        join_dynamic_partition_pruning,
    )

    plan = physical_plan(join_dynamic_partition_pruning(spark, sf_dir))
    assert "dynamicpruningexpression" in plan.lower(), plan
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "StartsWith" in pf[0], pf


def test_bitmap_distinct_merge_beats_popcount_sum(spark, sf_dir):
    """The grand-total row must come from MERGED WORDS, not summed
    popcounts: customers ordering under several priorities would be
    double-counted by the latter. Assert the ALL row is strictly below
    the sum of the per-priority rows (guaranteed at test SF where
    overlap exists) and equals the naive global distinct."""
    from pyspark.sql import functions as F

    from pipeline_apache_beam_entrega1_cs_spark.plans.relational2 import (
        agg_bitmap_distinct,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    rows = {
        r["o_orderpriority"]: r["n_distinct_customers"]
        for r in agg_bitmap_distinct(spark, sf_dir).collect()
    }
    per_sum = sum(v for k, v in rows.items() if k != "ALL")
    exact_all = (
        load_table(spark, sf_dir, "orders")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()[0]["n"]
    )
    assert rows["ALL"] == exact_all
    assert rows["ALL"] < per_sum, rows


def test_null_skew_split_shape(spark, sf_dir):
    """join_null_skew_split must be a Union of exactly one shuffle join
    branch (non-null keys) and a join-free bypass branch; the bypass
    side contributes no Exchange of its own — the point of the idiom is
    that unmatchable NULL-key rows never enter the join's shuffle."""
    from pipeline_apache_beam_entrega1_cs_spark.plans.relational2 import (
        join_null_skew_split,
    )

    import re

    plan = physical_plan(join_null_skew_split(spark, sf_dir))
    assert "Union" in plan, plan
    # formatted explain prints each node in the tree AND a detail
    # section; count the numbered detail nodes
    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) == 1, plan
    assert not re.findall(r"\(\d+\) (?:BroadcastHash|ShuffledHash)Join", plan), plan
    # null-key rows must be filtered out BEFORE the join branch
    assert "isnotnull(cust_opt" in plan or "isnotnull" in plan, plan


def test_null_skew_split_counts(spark, sf_dir):
    """The NULL segment row must hold exactly the orders whose synthetic
    FK is null (o_orderkey % 3 == 0), and the total across segments must
    equal the full orders count — nothing dropped or duplicated by the
    split."""
    from pyspark.sql import functions as F

    from pipeline_apache_beam_entrega1_cs_spark.plans.relational2 import (
        join_null_skew_split,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    rows = {
        r["c_mktsegment"]: r["n_orders"]
        for r in join_null_skew_split(spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders")
    n_total = orders.count()
    n_null = orders.filter(F.col("o_orderkey") % 3 == 0).count()
    assert rows[None] == n_null, (rows.get(None), n_null)
    assert sum(rows.values()) == n_total


def test_countmin_overestimates_only(spark, sf_dir):
    """Count-min guarantee, per probed key: est >= true ALWAYS (hash
    collisions add counts, never subtract), and min-over-4-rows keeps
    the overestimate within the sketch's coarse epsilon*N bound
    (eps = e/w; with d = 4 independent rows the realized error is far
    smaller — asserted loosely so the test pins the direction, not the
    tail luck)."""
    from pipeline_apache_beam_entrega1_cs_spark.plans.relational2 import (
        _CMS_W,
        agg_countmin_heavy_hitters,
    )
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    rows = agg_countmin_heavy_hitters(spark, sf_dir).collect()
    assert len(rows) == 10
    n_total = load_table(spark, sf_dir, "orders").count()
    for r in rows:
        assert r["est_cnt"] >= r["true_cnt"], r
        assert r["est_cnt"] - r["true_cnt"] <= 3 * n_total / _CMS_W, (
            r, n_total
        )


def test_retention_ttl_physically_drops_expired_partitions(spark, sf_dir):
    """TTL sweep physical semantics: after the entry runs, the scratch
    table's partition directories contain ONLY years >= the cutoff (the
    expired directories are gone from disk, not merely filtered), the
    survivors' data files are the ORIGINAL write's files (retention
    never rewrites surviving rows), and the returned years match."""
    import os

    from pipeline_apache_beam_entrega1_cs_spark.plans.pipeline_ops import (
        _TTL_CUTOFF_YEAR,
        maintenance_retention_ttl,
    )

    out = maintenance_retention_ttl(spark, sf_dir)
    years = sorted(r["o_year"] for r in out.collect())
    assert years and all(y >= _TTL_CUTOFF_YEAR for y in years)

    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    d = f"/tmp/spark_graft_ttl/{tag}-{os.getpid()}"
    part_years = sorted(
        int(e.split("=", 1)[1])
        for e in os.listdir(d)
        if e.startswith("o_year=")
    )
    assert part_years == years
    # survivors still hold parquet data files (present, non-empty) —
    # the sweep touched only expired directories
    for y in part_years:
        files = [
            f for f in os.listdir(os.path.join(d, f"o_year={y}"))
            if f.endswith(".parquet")
        ]
        assert files, y


def test_incremental_manifest_reads_only_new_files(spark, sf_dir):
    """The incremental-ingest entry's physical outcome: the returned
    report plan's input files are EXACTLY the unprocessed batch's
    files — already-manifested files see zero data I/O (the pruning
    happens at file-listing time, not as a post-scan filter)."""
    from pipeline_apache_beam_entrega1_cs_spark.plans.pipeline_ops import (
        _MANIFEST_NEW_FILES,
        maintenance_incremental_manifest,
    )

    df = maintenance_incremental_manifest(spark, sf_dir)
    files = df.inputFiles()
    assert len(files) == _MANIFEST_NEW_FILES
    assert all("/landing/b2/" in f for f in files), files


def test_orphan_audit_reads_only_orphan_files(spark, sf_dir):
    """The orphan-file audit's physical outcome: the report plan's
    input files are EXACTLY the unregistered stray files — committed
    (manifested) data sees zero I/O, and every stray file is found."""
    from pipeline_apache_beam_entrega1_cs_spark.plans.pipeline_ops import (
        _ORPHAN_FILES,
        maintenance_orphan_files,
    )

    df = maintenance_orphan_files(spark, sf_dir)
    files = df.inputFiles()
    assert len(files) == _ORPHAN_FILES
    assert all("/data/stray/" in f for f in files), files


def test_cpu_dense_barriers_carry_explicit_partition_count(spark, sf_dir):
    """The byte-light/CPU-dense stages (CDC rolling hash, the
    length-walk container parsers) must not inherit the scan's split
    layout — their plans carry an explicit-count doc_id exchange sized
    by spark.sql.shuffle.partitions (the round-11 CDC re-ladder: the
    exchange-free shape ran the hash stage on ONE core, 3.54 s vs
    2.22 s at sf0.1; SCALING.md round 11)."""
    from pipeline_apache_beam_entrega1_cs_spark.plans.registry import (
        all_queries,
    )

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    reg = all_queries()
    for name in (
        "multimodal_cdc_chunking",
        "multimodal_tar_index",
        "multimodal_zip_index",
        "multimodal_mp4_box_index",
        "multimodal_png_chunk_index",
    ):
        plan = physical_plan(reg[name].fn(spark, sf_dir))
        import re

        m = re.search(rf"hashpartitioning\(doc_id#\d+L?, {n}\)", plan)
        assert m, (
            f"{name}: no explicit {n}-partition doc_id exchange in plan "
            "— the CPU-dense stage would inherit the scan split layout"
        )


def test_rollup_then_window_discipline(spark, sf_dir):
    """The robust/seasonal timeseries entries (round-11 family) must
    keep their Window over the ROLLED-UP hourly/daily frame, never the
    raw events — a refactor that windows raw rows first would still be
    value-correct but 1000x heavier at scale. In the formatted plan the
    root prints first, so 'Window consumes the rollup' appears as the
    first Window line sitting ABOVE the first HashAggregate line; the
    inverse order (aggregate above a raw-row window) or a missing
    rollup aggregate fails."""
    from pipeline_apache_beam_entrega1_cs_spark.plans.registry import (
        all_queries,
    )

    reg = all_queries()
    for name in (
        "window_hampel_filter",
        "timeseries_changepoint_binary",
        "timeseries_interpolate_linear",
        "timeseries_spectral_peak",
        "timeseries_acf_lags",
        "timeseries_m4_downsample",
    ):
        plan = physical_plan(reg[name].fn(spark, sf_dir))
        assert "HashAggregate" in plan, f"{name}: no rollup aggregate"
        if "Window" in plan:
            assert plan.index("Window") < plan.index("HashAggregate"), (
                f"{name}: a Window runs BELOW the rollup aggregate — "
                "windowing raw rows instead of the rolled-up series"
            )


_COPY_RUN = 12


def _code_lines(path: Path) -> list[tuple[int, str]]:
    """(line number, stripped text) of every non-blank line of a module
    except comment-only lines and import statements."""
    src = path.read_text()
    imports = {
        n
        for node in ast.walk(ast.parse(src))
        if isinstance(node, (ast.Import, ast.ImportFrom))
        for n in range(node.lineno, node.end_lineno + 1)
    }
    return [
        (i, line.strip())
        for i, line in enumerate(src.splitlines(), 1)
        if line.strip() and not line.strip().startswith("#") and i not in imports
    ]


def test_no_copied_blocks_in_package():
    """No run of 12 consecutive code lines (compared after strip(),
    comments and imports skipped) occurs twice anywhere in the package:
    a copied block is defined once, as a helper its users call. A
    failure names each copied run by its file:line starts."""
    root = Path(__file__).resolve().parents[1]
    package = root / "pipeline_apache_beam_entrega1_cs_spark"
    starts = defaultdict(list)
    lines = {}
    for path in sorted(package.rglob("*.py")):
        lines[path] = _code_lines(path)
        texts = [t for _, t in lines[path]]
        for k in range(len(texts) - _COPY_RUN + 1):
            starts[tuple(texts[k:k + _COPY_RUN])].append((path, k))
    copied = {loc: run for run, locs in starts.items() if len(locs) > 1 for loc in locs}
    # report maximal runs: skip a window whose predecessor window is
    # also copied, since it continues a run already named
    runs = sorted(
        {
            tuple(
                f"{p.relative_to(root)}:{lines[p][j][0]}"
                for p, j in starts[run]
            )
            for (path, k), run in copied.items()
            if (path, k - 1) not in copied
        }
    )
    assert runs == [], "copied blocks:\n" + "\n".join(", ".join(r) for r in runs)


_DATED_HISTORY = re.compile(
    r"[Rr]ound[- ]\d+|VERDICT|ADVICE|\d(?:\.\d+)?\s*s\s*(?:->|→)\s*\d"
)


def _prose(src: str) -> list[tuple[int, str]]:
    """(line number, text) of every comment and docstring of a module;
    a docstring is given at its first line."""
    comments = [
        (t.start[0], t.string)
        for t in tokenize.generate_tokens(io.StringIO(src).readline)
        if t.type == tokenize.COMMENT
    ]
    docs = [
        (node.body[0].lineno, node.body[0].value.value)
        for node in ast.walk(ast.parse(src))
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        )
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
        and isinstance(node.body[0].value.value, str)
    ]
    return comments + docs


def test_no_dated_history_in_package():
    """No comment or docstring in the package cites a round, a VERDICT
    or ADVICE item, or an ``x s -> y s`` timing: the code states its
    contracts and reasons, and dated performance history lives in
    CHANGES.md and SCALING.md. A failure names each citation by
    file:line."""
    root = Path(__file__).resolve().parents[1]
    package = root / "pipeline_apache_beam_entrega1_cs_spark"
    found = [
        f"{path.relative_to(root)}:{line + text[:m.start()].count(chr(10))}: "
        f"{m.group()}"
        for path in sorted(package.rglob("*.py"))
        for line, text in _prose(path.read_text())
        for m in _DATED_HISTORY.finditer(text)
    ]
    assert found == [], "dated history in package prose:\n" + "\n".join(found)


def _reader_chain(call: ast.Call) -> list[str]:
    """Attribute names along ``call``'s receiver chain, innermost last:
    ``spark.read.schema(s).parquet(p)`` gives ``["schema", "read",
    "spark"]``."""
    names, node = [], call.func.value
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            if isinstance(node, ast.Name):
                names.append(node.id)
            return names


def test_no_inferred_table_reads():
    """Every parquet read of a testdata table (a ``.parquet(...)`` call
    on a ``read``/``readStream`` chain whose path mentions ``sf_dir``)
    passes its schema with ``.schema(...)``: without one, Spark runs a
    schema-inference job when the plan is built. ``schemas.load_table``
    is the read to use. A failure names each such read by file:line."""
    root = Path(__file__).resolve().parents[1]
    package = root / "pipeline_apache_beam_entrega1_cs_spark"
    inferred = []
    for path in sorted(package.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and any("sf_dir" in ast.unparse(a) for a in node.args)
            ):
                continue
            chain = _reader_chain(node)
            if {"read", "readStream"} & set(chain) and "schema" not in chain:
                inferred.append((str(path.relative_to(root)), node.lineno))
    assert inferred == [], "parquet reads without a schema:\n" + "\n".join(
        f"{p}:{n}" for p, n in sorted(inferred)
    )
