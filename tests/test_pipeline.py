"""End-to-end pipeline runner tests — the analog of the reference's
TestFileToFile (pipeline/pipeline_integration_test.go:32-140): source ->
transforms -> N sinks with namespace routing, count equality asserted."""

from __future__ import annotations

import os
import re
import sys
import threading
import warnings
from concurrent.futures import ThreadPoolExecutor
from functools import partial

import pyspark.sql.functions as F
import pytest
from pyspark.errors import AnalysisException

from transporter_spark.plans import Pipeline
from transporter_spark.plans.pipeline import _dispatch
from transporter_spark.sources.files import read_table


def test_file_to_file_roundtrip(spark, sf_dir, tmp_path):
    out = str(tmp_path / "events_out")
    metrics = (
        Pipeline("file2file")
        .source("dir", path=sf_dir, namespaces="^events$")
        .save("jsonl", path=out + "/{ns}")
        .run(spark)
    )
    src_rows = read_table(spark, sf_dir, "events").count()
    assert metrics["rows"]["events -> jsonl[0]"] == src_rows
    back = spark.read.json(out + "/events")
    assert back.count() == src_rows


def test_fanout_two_sinks_with_edge_transforms(spark, sf_dir, tmp_path):
    """One source, two sinks; the second edge gets an extra filter —
    the reference's fan-out tree (pipe.Send to every child,
    pipe/pipe.go:160-165) with per-edge transforms."""
    full = str(tmp_path / "full")
    filtered = str(tmp_path / "filtered")
    p = (
        Pipeline("fanout")
        .source("dir", path=sf_dir, namespaces="^events$")
        .save("parquet", path=full + "/{ns}")
        .transform("skip", field="event_type", operator="==", match="purchase")
        .save("parquet", path=filtered + "/{ns}")
    )
    metrics = p.run(spark)["rows"]
    ev = read_table(spark, sf_dir, "events")
    assert metrics["events -> parquet[0]"] == ev.count()
    assert metrics["events -> parquet[1]"] == ev.filter(
        F.col("event_type") == "purchase"
    ).count()


def test_namespace_routing_prunes_tables(spark, sf_dir, tmp_path):
    """ns regex on the sink edge: only matching namespaces are written
    (reference pipeline/node.go:522-531) — and non-matching tables are
    pruned before any scan (mongodb/reader.go:95-113 semantics)."""
    out = str(tmp_path / "routed")
    metrics = (
        Pipeline("routing")
        .source("dir", path=sf_dir, namespaces="^(nation|region|supplier)$")
        .save("jsonl", path=out + "/{ns}", ns="^(nation|region)$")
        .run(spark)
    )["rows"]
    assert set(metrics) == {"nation -> jsonl[0]", "region -> jsonl[0]"}
    assert os.path.exists(out + "/nation")
    assert not os.path.exists(out + "/supplier")


def test_transform_ns_scoping(spark, sf_dir, tmp_path):
    """A transform with an ns pattern only applies to matching
    namespaces; others pass through untouched (node.go:599-601)."""
    out = str(tmp_path / "scoped")
    metrics = (
        Pipeline("scoped")
        .source("dir", path=sf_dir, namespaces="^(nation|region)$")
        .transform("skip", field="n_regionkey", operator="==", match=0, ns="^nation$")
        .save("jsonl", path=out + "/{ns}")
        .run(spark)
    )["rows"]
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    assert metrics["nation -> jsonl[0]"] == nation.filter("n_regionkey = 0").count()
    assert metrics["region -> jsonl[0]"] == region.count()  # untouched


def test_copy_keeps_columns_named_like_envelope_fields(spark, sf_dir, tmp_path):
    """A source column named ``ts`` (or op/ns/data) is payload unless it
    is consumed as the envelope's event time: a copy keeps every column."""
    df = spark.createDataFrame([(1, "a")], "id long, ts string")
    Pipeline("probe").source("dataframe", df=df, ns="probe").save(
        "memory", view="envelope_names_probe"
    ).run(spark)
    got = spark.table("envelope_names_probe")
    assert got.columns == ["id", "ts"]
    assert [tuple(r) for r in got.collect()] == [(1, "a")]

    out = str(tmp_path / "copy")
    rows = (
        Pipeline("events-copy")
        .source("dir", path=sf_dir, namespaces="^events$")
        .save("parquet", path=out + "/{ns}")
        .run(spark)
    )["rows"]
    src = read_table(spark, sf_dir, "events")
    back = spark.read.parquet(out + "/events")
    assert back.columns == src.columns
    assert rows["events -> parquet[0]"] == src.count()
    assert {r.event_id: r for r in back.collect()} == {
        r.event_id: r for r in src.collect()
    }


def test_failed_edge_raises_first_in_declaration_order(spark, tmp_path, capsys):
    """A failing write raises from run(): the first failure in
    declaration order wins, no exit event is printed, and no edge
    declared after it is left to start, here the overwrite queued
    behind the failed edge on the same path."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    first, later = tmp_path / "first", tmp_path / "later"
    for taken in (first, later):
        taken.mkdir()
        (taken / "keep").write_text("x")
    p = (
        Pipeline("fails")
        .source("dataframe", df=df, ns="t")
        .save("jsonl", path=str(first), mode="errorifexists")
        .save("parquet", path=str(tmp_path / "ok"))
        .save("jsonl", path=str(later), mode="errorifexists")
        .save("jsonl", path=str(first), mode="overwrite")
    )
    threads = set(threading.enumerate())
    capsys.readouterr()
    with pytest.raises(AnalysisException, match=re.escape(f"{first} already exists")):
        p.run(spark)
    assert '"event": "exit"' not in capsys.readouterr().out
    assert os.listdir(first) == ["keep"]
    assert not [
        t for t in set(threading.enumerate()) - threads
        if t.name.startswith("ThreadPoolExecutor")
    ]


def test_colliding_targets_run_in_declaration_order(spark, tmp_path, capsys):
    """Edges that resolve to one target never overlap: appends to one
    path add up, overwrites leave the last-declared edge's rows, and
    console edges print in declaration order."""
    df = spark.createDataFrame([(i, f"r{i}") for i in range(6)], "id long, v string")
    appended, replaced = str(tmp_path / "appended"), str(tmp_path / "replaced")
    p = (
        Pipeline("collide")
        .source("dataframe", df=df, ns="t")
        .save("jsonl", path=appended, mode="append")
        .save("parquet", path=replaced)
        .save("console")
        .transform("skip", field="id", operator="<", match=2)
        .transform("rename", field_map={"v": "second_v"})
        .save("jsonl", path=appended, mode="append")
        .save("parquet", path=replaced)
        .save("console")
    )
    capsys.readouterr()
    rows = p.run(spark)["rows"]
    assert list(rows) == [
        "t -> jsonl[0]", "t -> parquet[1]", "t -> console[2]",
        "t -> jsonl[3]", "t -> parquet[4]", "t -> console[5]",
    ]
    assert spark.read.json(appended).count() == 6 + 2
    last = spark.read.parquet(replaced)
    assert last.columns == ["id", "second_v"]
    assert sorted(r.id for r in last.collect()) == [0, 1]
    out = capsys.readouterr().out
    assert out.index("r5") < out.index("second_v")


def test_run_jobs_inherit_job_group_and_tags(spark, sf_dir, tmp_path):
    """Every job run() launches, from the concurrent loads and the
    concurrent writes, stays in the caller's job group and carries its
    tags, and wrapping the threads raises no tag-inheritance warning.
    Parquet schema inference runs outside any SQL execution, so the
    session tag reaches only SQL jobs (as in a serial loop); the
    context tag, a local property, reaches all of them."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup())
    sc.setJobGroup("g", "pipeline attribution")
    spark.addTag("t")
    sc.addJobTag("ctx")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            rows = (
                Pipeline("tagged")
                .source("dir", path=sf_dir, namespaces="^(nation|region|supplier)$")
                .save("parquet", path=str(tmp_path / "{ns}"))
                .save("memory", view="tagged_{ns}")
                .run(spark)
            )["rows"]
    finally:
        spark.removeTag("t")
        sc.removeJobTag("ctx")
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]
    assert set(tracker.getJobIdsForGroup()) == ungrouped
    store = sc._jsc.sc().statusStore()
    tags = {
        j: set(store.job(j).jobTags().mkString("\n").split("\n"))
        for j in tracker.getJobIdsForGroup("g")
    }
    assert all("ctx" in t for t in tags.values())
    sql_jobs = [t for t in tags.values() if any(x.startswith("spark-session-") for x in t)]
    assert len(sql_jobs) >= len(rows)
    assert all(any(x.endswith("-t") for x in t) for t in sql_jobs)


def test_dispatch_stress_keeps_serial_contract(spark):
    """Short lanes on more threads than cores, switching threads as
    often as the interpreter allows: every result lands, every step
    below the lowest failing one runs exactly once, and that step's
    error is the one raised."""
    ran = []

    def step(i):
        ran.append(i)
        if i in (150, 151, 397):
            raise ValueError(i)
        return i * i

    def lanes(n):
        return [[(i, partial(step, i)) for i in range(s, n, 20)] for s in range(20)]

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool, ThreadPoolExecutor(1) as caller:
            ok = caller.submit(_dispatch, spark, pool, lanes(150)).result(timeout=120)
            assert ok == [i * i for i in range(150)]
            ran.clear()
            failed = caller.submit(_dispatch, spark, pool, lanes(400))
            with pytest.raises(ValueError, match="^150$"):
                failed.result(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert sorted(i for i in ran if i < 150) == list(range(150))


def test_pipeline_requires_source_and_sink(spark):
    with pytest.raises(ValueError, match="source and at least one sink"):
        Pipeline("empty").run(spark)
    with pytest.raises(ValueError, match="already has a source"):
        Pipeline("dup").source("dir", path="/x").source("dir", path="/y")


def test_jdbc_source_kind_dispatches_through_registry(spark, sf_dir, monkeypatch):
    """The DSL's `jdbc` source kind routes through sources.jdbc.read_jdbc
    with the partitioned-read knobs (live DB gated; the dispatch and
    envelope wrapping are what this pins)."""
    from transporter_spark.sources import jdbc as jdbc_mod

    seen = {}

    def fake_read_jdbc(sp, url, table, **kw):
        seen.update(url=url, table=table, **kw)
        return read_table(sp, sf_dir, "nation")

    monkeypatch.setattr(jdbc_mod, "read_jdbc", fake_read_jdbc)
    event = (
        Pipeline("jdbc-in")
        .source(
            "jdbc",
            url="jdbc:postgresql://db/x",
            table="nation",
            partition_column="n_nationkey",
            lower_bound=0,
            upper_bound=25,
        )
        .save("memory", view="jdbc_out")
        .run(spark)
    )
    assert seen["url"] == "jdbc:postgresql://db/x"
    assert seen["partition_column"] == "n_nationkey"
    assert event["rows"]["nation -> memory[0]"] == 25
    assert spark.table("jdbc_out").count() == 25


def test_nanos_probe_ignores_spark_written_int96(spark, sf_dir, tmp_path):
    """Round-trip guard: a table read via read_table (nanos converted)
    then re-written by Spark stores INT96/INT64-micros timestamps —
    re-reading it must NOT re-apply the div-1000 conversion (INT96 also
    surfaces as timestamp[ns] in arrow, which fooled the probe once)."""
    from transporter_spark.sources.files import read_table

    ev = read_table(spark, sf_dir, "events")
    out = str(tmp_path / "events.parquet")
    ev.limit(100).write.parquet(out)
    again = read_table(spark, str(tmp_path), "events")
    # dtype must survive the round-trip as a timestamp (ltz or ntz per
    # the source data), NEVER degrade to long via a misfired nanos probe
    assert dict(again.dtypes)["ts"] == dict(ev.dtypes)["ts"]
    assert dict(again.dtypes)["ts"].startswith("timestamp")
    orig = {r.event_id: r.ts for r in ev.limit(100).collect()}
    for r in again.collect():
        assert r.ts == orig[r.event_id]


def test_run_stream_copy_then_resume_moves_only_delta(spark, tmp_path):
    """Streaming pipeline execution (the reference's daemon mode):
    copy phase drains everything; after appending new source lines, a
    re-run with the SAME checkpoint root processes ONLY the delta —
    the per-sink consumer-offset resume contract
    (offset/logmanager.go:14-131, pipeline/node.go:269-356)."""
    import json as _json

    from transporter_spark.plans.pipeline import Pipeline

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.jsonl").write_text(
        "\n".join(_json.dumps({"k": i, "v": f"r{i}"}) for i in range(10)) + "\n"
    )

    def mk():
        return (
            Pipeline("stream-e2e")
            .source("jsonl", path=str(src), ns="app.rows")
            .transform("skip", field="k", operator=">=", match=2)
            .save("jsonl", path=str(tmp_path / "out"))
        )

    ev1 = mk().run_stream(spark, str(tmp_path / "ckpt"))
    assert ev1["rows"]["app.rows -> jsonl[0]"] == 10  # source rows in epoch 1
    out1 = spark.read.json(str(tmp_path / "out"))
    assert out1.count() == 8  # k>=2 passed the filter

    # tail phase: append one new file, same checkpoint -> only delta
    (src / "b.jsonl").write_text(
        "\n".join(_json.dumps({"k": i, "v": f"r{i}"}) for i in range(10, 14)) + "\n"
    )
    ev2 = mk().run_stream(spark, str(tmp_path / "ckpt"))
    assert ev2["rows"]["app.rows -> jsonl[0]"] == 4  # NOT 14: resume, not re-copy
    assert spark.read.json(str(tmp_path / "out")).count() == 12


def test_run_stream_fanout_separate_offsets(spark, tmp_path):
    """1 source -> 2 sinks: each edge owns a checkpoint (per-sink
    offsets), so both drain independently in one run."""
    import json as _json

    from transporter_spark.plans.pipeline import Pipeline

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.jsonl").write_text(
        "\n".join(_json.dumps({"k": i}) for i in range(6)) + "\n"
    )
    p = (
        Pipeline("fanout")
        .source("jsonl", path=str(src), ns="app.rows")
        .save("jsonl", path=str(tmp_path / "o1"))
        .transform("skip", field="k", operator="<", match=3)
        .save("jsonl", path=str(tmp_path / "o2"))
    )
    p.run_stream(spark, str(tmp_path / "ckpt"))
    assert spark.read.json(str(tmp_path / "o1")).count() == 6
    assert spark.read.json(str(tmp_path / "o2")).count() == 3
    import os

    assert len(os.listdir(tmp_path / "ckpt")) == 2  # one offset dir per edge
