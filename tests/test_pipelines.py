"""JSON pipeline-spec compiler tests: the reference's deploy/run
lifecycle (ETLBatchConfig stages + connections, TopNTest.java:94-105)
reproduced over Spark DataFrames."""

from __future__ import annotations

import pytest

from topn_spark.errors import ValidationError
from topn_spark.pipelines import compile_pipeline, run_pipeline

# the reference's golden end-to-end table (TopNTest.java:64-79):
# (name, age) with a null age — topField=age, size=3 keeps
# Bob 7, Alice 6, Fred 5 (nulls smallest, never in a full top-3)
GOLDEN = [
    ("Leo", 1),
    ("Eve", 3),
    ("Bob", 7),
    ("Alice", 6),
    ("Fred", 5),
    ("Nat", None),
]


def _golden_source(spark, tmp_path):
    p = str(tmp_path / "people")
    spark.createDataFrame(GOLDEN, "name string, age int").coalesce(
        1
    ).write.mode("overwrite").parquet(p)
    return p


def _spec(src, dst, topn_props):
    return {
        "stages": [
            {
                "name": "source",
                "type": "batchsource",
                "plugin": "File",
                "properties": {"path": src, "format": "parquet"},
            },
            {
                "name": "topn",
                "type": "batchaggregator",
                "plugin": "TopN",
                "properties": topn_props,
            },
            {
                "name": "sink",
                "type": "batchsink",
                "plugin": "FileSink",
                "properties": {"path": dst, "format": "parquet"},
            },
        ],
        "connections": [
            {"from": "source", "to": "topn"},
            {"from": "topn", "to": "sink"},
        ],
    }


def test_reference_golden_pipeline_end_to_end(spark, tmp_path):
    src = _golden_source(spark, tmp_path)
    dst = str(tmp_path / "out")
    spec = _spec(src, dst, {"field": "age", "size": "3"})
    # deploy: validates, builds, writes nothing
    staged = compile_pipeline(spark, spec)
    assert set(staged) == {"source", "topn", "sink"}
    import os

    assert not os.path.exists(dst)
    # run: executes the sink; result is the reference's golden top-3
    run_pipeline(spark, spec)
    got = {
        (r.name, r.age) for r in spark.read.parquet(dst).collect()
    }
    assert got == {("Bob", 7), ("Alice", 6), ("Fred", 5)}


def test_macro_deferral_and_run_substitution(spark, tmp_path):
    src = _golden_source(spark, tmp_path)
    dst = str(tmp_path / "out_m")
    spec = _spec(src, dst, {"field": "${f}", "size": "${n}"})
    # deploy passes: every macro'd property's validation is skipped
    compile_pipeline(spark, spec)
    # run without substitutions: the macro failures surface, batched
    with pytest.raises(ValidationError) as ei:
        run_pipeline(spark, spec)
    msg = str(ei.value)
    assert "${f}" in msg and "${n}" in msg
    # run with substitutions executes the resolved config
    run_pipeline(spark, spec, {"f": "age", "n": "1"})
    got = {(r.name, r.age) for r in spark.read.parquet(dst).collect()}
    assert got == {("Bob", 7)}


def test_all_stage_failures_collected_together(spark, tmp_path):
    src = _golden_source(spark, tmp_path)
    spec = {
        "stages": [
            {
                "name": "source",
                "plugin": "File",
                "properties": {"path": src},
            },
            {
                "name": "topn",
                "plugin": "TopN",
                # bad field AND bad size: both must be reported
                "properties": {"field": "nope", "size": "0"},
            },
            {
                "name": "pick",
                "plugin": "Projection",
                "properties": {"select": "ghost"},  # third failure
            },
        ],
        "connections": [
            {"from": "source", "to": "topn"},
            {"from": "source", "to": "pick"},
        ],
    }
    with pytest.raises(ValidationError) as ei:
        compile_pipeline(spark, spec)
    msg = str(ei.value)
    assert "nope" in msg and "0" in msg and "ghost" in msg
    assert len(ei.value.failures) >= 3


def test_joiner_groupby_filter_pipeline(spark, tmp_path):
    lp = str(tmp_path / "l")
    rp = str(tmp_path / "r")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0), (4, "c", 5.0)],
        "id long, k string, v double",
    ).write.parquet(lp)
    spark.createDataFrame(
        [("a", "alpha"), ("b", "beta")], "k string, label string"
    ).write.parquet(rp)
    spec = {
        "stages": [
            {"name": "l", "plugin": "File", "properties": {"path": lp}},
            {"name": "r", "plugin": "File", "properties": {"path": rp}},
            {
                "name": "j",
                "plugin": "Joiner",
                "properties": {"joinKeys": "k = k", "joinType": "inner"},
            },
            {
                "name": "f",
                "plugin": "Filter",
                "properties": {"condition": "v > 5"},
            },
            {
                "name": "g",
                "plugin": "GroupByAggregate",
                "properties": {
                    "groupByFields": "label",
                    "aggregates": "n:count(*), total:sum(v)",
                },
            },
        ],
        "connections": [
            {"from": "l", "to": "j"},
            {"from": "r", "to": "j"},
            {"from": "j", "to": "f"},
            {"from": "f", "to": "g"},
        ],
    }
    out = run_pipeline(spark, spec)["g"]
    got = {(r.label, r.n, r.total) for r in out.collect()}
    assert got == {("alpha", 2, 40.0), ("beta", 1, 20.0)}


def test_dedup_sql_and_synthetic_source(spark, tmp_path):
    spec = {
        "stages": [
            {
                "name": "gen",
                "plugin": "SyntheticDocs",
                "properties": {"n": "50", "seed": "3"},
            },
            {
                "name": "dedup",
                "plugin": "Deduplicate",
                "properties": {
                    "uniqueFields": "text",
                    "tiebreak": "doc_id",
                },
            },
            {
                "name": "stats",
                "plugin": "SQL",
                "properties": {
                    "query": "SELECT source, COUNT(*) AS n "
                    "FROM ${input} GROUP BY source"
                },
            },
        ],
        "connections": [
            {"from": "gen", "to": "dedup"},
            {"from": "dedup", "to": "stats"},
        ],
    }
    out = run_pipeline(spark, spec)
    assert out["dedup"].count() <= 50
    assert out["stats"].columns == ["source", "n"]
    assert sum(r.n for r in out["stats"].collect()) == out["dedup"].count()


def test_structural_errors(spark, tmp_path):
    """Every structural failure reads the same whether the spec is
    compiled or run over an injected source frame — one DAG walker
    serves both entry points."""
    from topn_spark.pipelines import run_pipeline_with_source

    src = _golden_source(spark, tmp_path)
    injected = spark.createDataFrame(GOLDEN, "name string, age int")
    base = {"name": "s", "plugin": "File", "properties": {"path": src}}

    def both(spec, match):
        with pytest.raises(ValidationError, match=match) as deployed:
            compile_pipeline(spark, spec)
        with pytest.raises(ValidationError) as fed:
            run_pipeline_with_source(spark, spec, "s", injected)
        assert str(fed.value) == str(deployed.value)

    # unknown plugin
    both(
        {"stages": [dict(base), {"name": "x", "plugin": "Nope"}],
         "connections": []},
        "unknown plugin",
    )
    # cycle
    both(
        {
            "stages": [
                dict(base),
                {"name": "a", "plugin": "Filter",
                 "properties": {"condition": "1=1"}},
                {"name": "b", "plugin": "Filter",
                 "properties": {"condition": "1=1"}},
            ],
            "connections": [
                {"from": "s", "to": "a"},
                {"from": "a", "to": "b"},
                {"from": "b", "to": "a"},
            ],
        },
        "cycle",
    )
    # declared type mismatching the plugin's kind
    both(
        {"stages": [
            {"name": "s", "type": "transform", "plugin": "File",
             "properties": {"path": src}}],
         "connections": []},
        "batchsource",
    )
    # duplicate stage names
    both({"stages": [dict(base), dict(base)], "connections": []},
         "Duplicate")
    # wrong input count for a single-input stage
    both(
        {"stages": [dict(base), {"name": "a", "plugin": "Filter",
                                 "properties": {"condition": "1=1"}}],
         "connections": [{"from": "s", "to": "a"}] * 2},
        "Stage 'a': too many values to unpack",
    )


def test_injected_source_sinks_append(spark, tmp_path):
    """run_pipeline_with_source treats its frame as one batch of a
    larger feed: sinks append, even over the spec's own mode, so two
    calls into one FileSink path keep both batches' rows."""
    from topn_spark.pipelines import run_pipeline_with_source

    dst = str(tmp_path / "fed")
    spec = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "<injected>"}},
            {"name": "sink", "plugin": "FileSink",
             "properties": {"path": dst, "mode": "overwrite"}},
        ],
        "connections": [{"from": "src", "to": "sink"}],
    }
    for lo in (0, 3):
        batch = spark.createDataFrame(
            GOLDEN[lo:lo + 3], "name string, age int"
        )
        run_pipeline_with_source(spark, spec, "src", batch)
    got = sorted(r.name for r in spark.read.parquet(dst).collect())
    assert got == sorted(name for name, _ in GOLDEN)


def test_one_dag_walker_and_one_stream_starter():
    """The pipeline glue is single-sourced: one DAG walker serves
    deploy, run, injected-source and streaming execution, and one
    helper starts every foreachBatch stream (the only place that
    sets the checkpoint and trigger policy). Pinned structurally so
    a re-grown copy turns the suite red."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "topn_spark"
    sources = {p: p.read_text() for p in sorted(pkg.rglob("*.py"))}
    starts = [
        str(p.relative_to(pkg))
        for p, text in sources.items()
        for _ in range(text.count("trigger(availableNow=True)"))
    ]
    assert len(starts) == 1, starts
    for gone in ("_run_with_source", "_validate_against", "_execute("):
        holders = [str(p) for p, text in sources.items() if gone in text]
        assert not holders, (gone, holders)
    # per-batch steps attach through start_batches, not through
    # wrappers that re-declare a step's signature and forward it
    for wrapper in (
        "incremental_corpus_sink", "neardup_corpus_sink",
        "cdc_snapshot_sink", "sft_corpus_sink", "drift_monitor_sink",
        "arena_monitor_sink", "bin_export_sink",
        "preference_bin_export_sink",
    ):
        holders = [
            str(p) for p, text in sources.items()
            if f"def {wrapper}(" in text
        ]
        assert not holders, (wrapper, holders)


def test_union_and_window_plugins(spark, tmp_path):
    ap, bp = str(tmp_path / "ua"), str(tmp_path / "ub")
    spark.createDataFrame(
        [(1, "x", 5.0), (2, "x", 9.0)], "id long, k string, v double"
    ).write.parquet(ap)
    spark.createDataFrame(
        [(3, "y", 7.0), (4, "x", 1.0)], "id long, k string, v double"
    ).write.parquet(bp)
    spec = {
        "stages": [
            {"name": "a", "plugin": "File", "properties": {"path": ap}},
            {"name": "b", "plugin": "File", "properties": {"path": bp}},
            {"name": "u", "plugin": "Union", "properties": {}},
            {
                "name": "w",
                "plugin": "Window",
                "properties": {
                    "partitionFields": "k",
                    "orderField": "v:desc",
                    "function": "row_number",
                    "alias": "rn",
                },
            },
            {
                "name": "first",
                "plugin": "Filter",
                "properties": {"condition": "rn = 1"},
            },
        ],
        "connections": [
            {"from": "a", "to": "u"},
            {"from": "b", "to": "u"},
            {"from": "u", "to": "w"},
            {"from": "w", "to": "first"},
        ],
    }
    out = run_pipeline(spark, spec)["first"]
    got = {(r.k, r.id) for r in out.collect()}
    assert got == {("x", 2), ("y", 3)}  # per-key max v
    # union schema mismatch is collected, not raised raw
    bad = {
        "stages": [
            {"name": "a", "plugin": "File", "properties": {"path": ap}},
            {
                "name": "p",
                "plugin": "Projection",
                "properties": {"select": "id, k"},
            },
            {"name": "u", "plugin": "Union", "properties": {}},
        ],
        "connections": [
            {"from": "a", "to": "p"},
            {"from": "a", "to": "u"},
            {"from": "p", "to": "u"},
        ],
    }
    with pytest.raises(ValidationError, match="column set"):
        compile_pipeline(spark, bad)


def test_cli_validate_query_and_list(spark, tmp_path, capsys):
    import json

    from topn_spark.__main__ import main

    spec_path = str(tmp_path / "spec.json")
    json.dump(
        {
            "stages": [
                {
                    "name": "gen",
                    "plugin": "SyntheticDocs",
                    "properties": {"n": "10", "seed": "1"},
                },
                {
                    "name": "top",
                    "plugin": "TopN",
                    "properties": {"field": "n_chars", "size": "2"},
                },
            ],
            "connections": [{"from": "gen", "to": "top"}],
        },
        open(spec_path, "w"),
    )
    assert main(["validate-pipeline", spec_path]) == 0
    assert "OK: 2 stages" in capsys.readouterr().out
    assert main(["run-pipeline", spec_path, "--show", "top"]) == 0
    assert "n_chars" in capsys.readouterr().out
    assert main(["list-queries", "q0"]) == 0
    out = capsys.readouterr().out
    assert "q01" in out and "sql-oracle" in out
    assert main(["query", "q01", "--sf-dir", "/root/testdata/sf0.001"]) == 0
    assert "o_orderkey" in capsys.readouterr().out
    # ambiguous prefix refused
    assert main(["query", "q"]) == 2


def test_streaming_pipeline_per_batch_topn(spark, tmp_path):
    """The reference's cdap-data-streams registration: the SAME
    plugins run per micro-batch — a streaming TopN emits each batch's
    top rows. Two files -> two micro-batches -> the sink holds both
    batches' top-2, appended."""
    from topn_spark.pipelines import run_streaming_pipeline

    src = str(tmp_path / "s_src")
    dst = str(tmp_path / "s_dst")
    ck = str(tmp_path / "s_ck")
    import os

    os.makedirs(src)
    import time as _time

    spark.createDataFrame(
        [(1, 10.0), (2, 30.0), (3, 20.0)], "id long, v double"
    ).coalesce(1).write.parquet(f"{src}/b0")
    _time.sleep(1.1)
    spark.createDataFrame(
        [(4, 5.0), (5, 50.0), (6, 40.0)], "id long, v double"
    ).coalesce(1).write.parquet(f"{src}/b1")

    spec = {
        "stages": [
            {
                "name": "in",
                "plugin": "File",
                "properties": {
                    "path": src + "/b*",
                    "schema": "id long, v double",
                    "maxFilesPerTrigger": "1",
                },
            },
            {
                "name": "top",
                "plugin": "TopN",
                "properties": {"field": "v", "size": "2"},
            },
            {
                "name": "out",
                "plugin": "FileSink",
                "properties": {"path": dst},
            },
        ],
        "connections": [
            {"from": "in", "to": "top"},
            {"from": "top", "to": "out"},
        ],
    }
    # maxFilesPerTrigger=1: each file is its own micro-batch, so the
    # per-batch TopN emits each batch's top-2 (CDAP streaming
    # semantics — the plugin reruns per batch)
    q = run_streaming_pipeline(spark, spec, ck)
    q.awaitTermination(120)
    got = {(r.id, r.v) for r in spark.read.parquet(dst).collect()}
    assert got == {(2, 30.0), (3, 20.0), (5, 50.0), (6, 40.0)}

    # validation still fires at deploy: bad field surfaces before any
    # stream starts
    bad = dict(spec)
    bad["stages"] = [
        spec["stages"][0],
        {"name": "top", "plugin": "TopN",
         "properties": {"field": "ghost", "size": "2"}},
        spec["stages"][2],
    ]
    with pytest.raises(ValidationError, match="ghost"):
        run_streaming_pipeline(spark, bad, str(tmp_path / "ck2"))


def test_sql_stage_macro_lifecycle(spark, tmp_path):
    src = _golden_source(spark, tmp_path)
    spec = {
        "stages": [
            {"name": "s", "plugin": "File", "properties": {"path": src}},
            {
                "name": "q",
                "plugin": "SQL",
                "properties": {
                    "query": "SELECT name, age FROM ${input} "
                    "WHERE age >= ${min_age}"
                },
            },
        ],
        "connections": [{"from": "s", "to": "q"}],
    }
    # deploy defers: ${min_age} unresolved, ${input} doesn't count
    compile_pipeline(spark, spec)
    with pytest.raises(ValidationError, match="min_age"):
        run_pipeline(spark, spec)
    out = run_pipeline(spark, spec, {"min_age": "5"})["q"]
    assert {r.name for r in out.collect()} == {"Bob", "Alice", "Fred"}


def test_source_sink_path_macro_lifecycle(spark, tmp_path):
    """${...} macros in source/sink paths follow the same @Macro
    lifecycle as Filter/SQL/TopN: deploy defers (no read of a literal
    '${input}' path), run substitutes — and a macro'd sink path must
    never create a literal '${out}' directory."""
    import os

    src = _golden_source(spark, tmp_path)
    dst = str(tmp_path / "macro_out")
    spec = _spec("${input}", "${out}", {"field": "age", "size": "3"})
    # deploy: passes with the source deferred (schema unknown til run)
    compile_pipeline(spark, spec)
    # run without substitutions: collected macro failures, no write
    with pytest.raises(ValidationError) as ei:
        run_pipeline(spark, spec)
    assert "${input}" in str(ei.value)
    assert not os.path.exists(str(tmp_path / "${out}"))
    assert not os.path.exists("${out}")
    # run with substitutions: reads the real source, writes the real dst
    run_pipeline(spark, spec, {"input": src, "out": dst})
    got = {(r.name, r.age) for r in spark.read.parquet(dst).collect()}
    assert got == {("Bob", 7), ("Alice", 6), ("Fred", 5)}


def test_source_macro_with_literal_schema_validates_downstream(
    spark, tmp_path
):
    """A macro'd source path WITH an explicit literal schema still
    validates the downstream DAG at deploy against a typed empty
    frame — catching a bad TopN field before any run."""
    spec = _spec(
        "${input}", str(tmp_path / "o"), {"field": "ghost", "size": "3"}
    )
    spec["stages"][0]["properties"]["schema"] = "name string, age int"
    with pytest.raises(ValidationError) as ei:
        compile_pipeline(spark, spec)
    assert "ghost" in str(ei.value)


def test_joiner_same_name_key_is_not_ambiguous(spark, tmp_path):
    """joinKeys 'k = k' must leave ONE k column so downstream stages
    can reference it (the old lk != rk guard left two and any
    Projection/SQL touching k died with AMBIGUOUS_REFERENCE)."""
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    spark.createDataFrame(
        [(1, "x"), (2, "y")], "k int, lv string"
    ).write.parquet(a)
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "k int, rv double"
    ).write.parquet(b)
    spec = {
        "stages": [
            {"name": "sa", "plugin": "File", "properties": {"path": a}},
            {"name": "sb", "plugin": "File", "properties": {"path": b}},
            {
                "name": "j",
                "plugin": "Joiner",
                "properties": {"joinKeys": "k = k"},
            },
            {
                "name": "pick",
                "plugin": "Projection",
                "properties": {"select": "k, lv, rv"},
            },
        ],
        "connections": [
            {"from": "sa", "to": "j"},
            {"from": "sb", "to": "j"},
            {"from": "j", "to": "pick"},
        ],
    }
    out = run_pipeline(spark, spec)["pick"]
    assert out.columns == ["k", "lv", "rv"]
    assert {(r.k, r.lv, r.rv) for r in out.collect()} == {
        (1, "x", 10.0),
        (2, "y", 20.0),
    }


def test_joiner_multi_key(spark, tmp_path):
    """Composite joinKeys 'a = a, b = b' join on ALL pairs and drop
    every right key."""
    a = str(tmp_path / "mk_a")
    b = str(tmp_path / "mk_b")
    spark.createDataFrame(
        [(1, "x", 10), (1, "y", 20), (2, "x", 30)],
        "k int, g string, lv int",
    ).write.parquet(a)
    spark.createDataFrame(
        [(1, "x", 1.5), (2, "x", 2.5), (1, "z", 9.9)],
        "k int, g string, rv double",
    ).write.parquet(b)
    spec = {
        "stages": [
            {"name": "sa", "plugin": "File", "properties": {"path": a}},
            {"name": "sb", "plugin": "File", "properties": {"path": b}},
            {
                "name": "j",
                "plugin": "Joiner",
                "properties": {"joinKeys": "k = k, g = g"},
            },
        ],
        "connections": [
            {"from": "sa", "to": "j"},
            {"from": "sb", "to": "j"},
        ],
    }
    out = run_pipeline(spark, spec)["j"]
    assert sorted(out.columns) == ["g", "k", "lv", "rv"]
    assert {(r.k, r.g, r.lv, r.rv) for r in out.collect()} == {
        (1, "x", 10, 1.5),
        (2, "x", 30, 2.5),
    }
    # malformed pair is collected, not crashed
    spec["stages"][2]["properties"]["joinKeys"] = "k = k, g"
    with pytest.raises(ValidationError, match="joinKeys"):
        run_pipeline(spark, spec)


def test_streaming_pipeline_macro_source_path(spark, tmp_path):
    """A macro'd streaming source path resolves from substitutions
    before the stream starts; missing substitutions raise before any
    query is launched."""
    src = str(tmp_path / "s_src")
    dst = str(tmp_path / "s_dst")
    spark.createDataFrame(
        [("a", 3), ("b", 9)], "name string, age int"
    ).write.parquet(src)
    spec = {
        "stages": [
            {
                "name": "source",
                "plugin": "File",
                "properties": {
                    "path": "${in}",
                    "format": "parquet",
                    "schema": "name string, age int",
                },
            },
            {
                "name": "topn",
                "plugin": "TopN",
                "properties": {"field": "age", "size": "1"},
            },
            {
                "name": "sink",
                "plugin": "FileSink",
                "properties": {"path": dst, "format": "parquet"},
            },
        ],
        "connections": [
            {"from": "source", "to": "topn"},
            {"from": "topn", "to": "sink"},
        ],
    }
    from topn_spark.pipelines import run_streaming_pipeline

    with pytest.raises(ValidationError, match=r"\$\{in\}"):
        run_streaming_pipeline(
            spark, spec, str(tmp_path / "ck0")
        )
    q = run_streaming_pipeline(
        spark, spec, str(tmp_path / "ck1"), {"in": src}
    )
    q.awaitTermination(120)
    got = {(r.name, r.age) for r in spark.read.parquet(dst).collect()}
    assert got == {("b", 9)}


def test_web_frontend_plugins_pipeline(spark, tmp_path):
    """The round-7 corpus front end composed entirely from the JSON
    spec: File -> HtmlExtract -> NormalizeUnicode -> QualityScore ->
    Filter(quality_keep) -> FileSink; plus per-plugin validation
    failures batched at deploy."""
    import pytest

    from topn_spark.errors import ValidationError
    from topn_spark.pipelines import compile_pipeline, run_pipeline

    src = str(tmp_path / "html_src")
    good = (
        "<body><h1>Doc</h1><p>"
        + "perfectly reasonable sentence with enough words here "
        * 2
        + "</p></body>"
    )
    junk = "<body><p>@@ ## !!</p></body>"
    spark.createDataFrame(
        [(1, good), (2, junk), (3, None)],
        "doc_id long, html string",
    ).write.parquet(src)
    dst = str(tmp_path / "web_out")
    spec = {
        "stages": [
            {"name": "src", "plugin": "File", "properties": {"path": src}},
            {"name": "extract", "plugin": "HtmlExtract", "properties": {}},
            {
                "name": "norm",
                "plugin": "NormalizeUnicode",
                "properties": {"textField": "text", "form": "NFC"},
            },
            {
                "name": "quality",
                "plugin": "QualityScore",
                "properties": {"textField": "text"},
            },
            {
                "name": "keep",
                "plugin": "Filter",
                "properties": {"condition": "quality_keep"},
            },
            {
                "name": "sink",
                "plugin": "FileSink",
                "properties": {"path": dst},
            },
        ],
        "connections": [
            {"from": "src", "to": "extract"},
            {"from": "extract", "to": "norm"},
            {"from": "norm", "to": "quality"},
            {"from": "quality", "to": "keep"},
            {"from": "keep", "to": "sink"},
        ],
    }
    compile_pipeline(spark, spec)
    run_pipeline(spark, spec)
    kept = spark.read.parquet(dst).collect()
    assert [r.doc_id for r in kept] == [1]
    assert kept[0].quality_keep is True

    # validation: missing html column, bad form — batched at deploy
    bad = {
        "stages": [
            {"name": "src", "plugin": "File", "properties": {"path": src}},
            {
                "name": "extract",
                "plugin": "HtmlExtract",
                "properties": {"htmlField": "ghost"},
            },
            {
                "name": "norm",
                "plugin": "NormalizeUnicode",
                "properties": {"form": "NFX"},
            },
        ],
        "connections": [
            {"from": "src", "to": "extract"},
            {"from": "extract", "to": "norm"},
        ],
    }
    with pytest.raises(ValidationError) as ei:
        compile_pipeline(spark, bad)
    msg = str(ei.value)
    assert "ghost" in msg and "NFX" in msg


def test_script_profile_plugin(spark, tmp_path):
    from topn_spark.pipelines import run_pipeline

    src = str(tmp_path / "sp_src")
    spark.createDataFrame(
        [(1, "москва текст тут"), (2, "plain english words")],
        "doc_id long, text string",
    ).write.parquet(src)
    dst = str(tmp_path / "sp_out")
    spec = {
        "stages": [
            {"name": "src", "plugin": "File", "properties": {"path": src}},
            {"name": "sp", "plugin": "ScriptProfile", "properties": {}},
            {
                "name": "sink",
                "plugin": "FileSink",
                "properties": {"path": dst},
            },
        ],
        "connections": [
            {"from": "src", "to": "sp"},
            {"from": "sp", "to": "sink"},
        ],
    }
    run_pipeline(spark, spec)
    got = {
        r.doc_id: r.dominant_script
        for r in spark.read.parquet(dst).collect()
    }
    assert got == {1: "cyrillic", 2: "latin"}


def test_filter_suite_plugins_pipeline(spark, tmp_path):
    """GopherRules/C4LineFilter as spec plugins, keepOnly mode: C4
    cleans lines and gates pages, Gopher gates the cleaned docs;
    invalid keepOnly is a batched deploy-time validation failure."""
    import pytest

    from topn_spark.errors import ValidationError
    from topn_spark.pipelines import compile_pipeline, run_pipeline

    src = str(tmp_path / "fs_src")
    good_line = "the data to be of and that have with value pipeline here."
    good = "\n".join([good_line.capitalize()] * 8 + ["no punct fragment"])
    lorem = "lorem ipsum dolor sit amet and so on here today.\n" + good
    spark.createDataFrame(
        [(1, good), (2, lorem)], "doc_id long, text string"
    ).write.parquet(src)
    dst = str(tmp_path / "fs_out")
    spec = {
        "stages": [
            {"name": "src", "plugin": "File", "properties": {"path": src}},
            {
                "name": "c4",
                "plugin": "C4LineFilter",
                "properties": {"keepOnly": "true"},
            },
            {
                "name": "gopher",
                "plugin": "GopherRules",
                "properties": {"keepOnly": "true"},
            },
            {
                "name": "sink",
                "plugin": "FileSink",
                "properties": {"path": dst},
            },
        ],
        "connections": [
            {"from": "src", "to": "c4"},
            {"from": "c4", "to": "gopher"},
            {"from": "gopher", "to": "sink"},
        ],
    }
    compile_pipeline(spark, spec)
    run_pipeline(spark, spec)
    kept = spark.read.parquet(dst).collect()
    # doc 2 dies at the C4 lorem-ipsum page gate; doc 1 survives both
    # suites with its no-punctuation fragment line removed
    assert [r.doc_id for r in kept] == [1]
    assert sorted(kept[0].asDict()) == ["doc_id", "text"]
    assert "no punct fragment" not in kept[0].text

    bad = {
        "stages": [
            {"name": "src", "plugin": "File", "properties": {"path": src}},
            {
                "name": "gopher",
                "plugin": "GopherRules",
                "properties": {"keepOnly": "maybe", "textField": "ghost"},
            },
        ],
        "connections": [{"from": "src", "to": "gopher"}],
    }
    with pytest.raises(ValidationError) as ei:
        compile_pipeline(spark, bad)
    msg = str(ei.value)
    assert "maybe" in msg and "ghost" in msg


def test_perplexity_filter_plugin(spark, tmp_path):
    """PerplexityFilter scores against a SAVED LM artifact and the
    maxPpl cut keeps only in-model records; validation failures for
    missing modelPath / bad smoothing batch at deploy."""
    import pytest

    from topn_spark.errors import ValidationError
    from topn_spark.operators.lm import save_bigram_lm, train_bigram_lm
    from topn_spark.pipelines import compile_pipeline, run_pipeline

    clean = "the quick brown fox jumps over the lazy dog"
    train = spark.createDataFrame(
        [(i, clean) for i in range(20)], "doc_id long, text string"
    )
    uni, bi = train_bigram_lm(train)
    model = str(tmp_path / "lm_model")
    save_bigram_lm(uni, bi, model)

    src = str(tmp_path / "ppl_src")
    spark.createDataFrame(
        [(1, clean), (2, "zxq wvu tsr qpo nmk jih")],
        "doc_id long, text string",
    ).write.parquet(src)
    dst = str(tmp_path / "ppl_out")
    spec = {
        "stages": [
            {"name": "src", "plugin": "File", "properties": {"path": src}},
            {
                "name": "ppl",
                "plugin": "PerplexityFilter",
                "properties": {"modelPath": model, "maxPpl": "50"},
            },
            {"name": "sink", "plugin": "FileSink", "properties": {"path": dst}},
        ],
        "connections": [
            {"from": "src", "to": "ppl"},
            {"from": "ppl", "to": "sink"},
        ],
    }
    run_pipeline(spark, spec)
    kept = spark.read.parquet(dst).collect()
    assert [r.doc_id for r in kept] == [1]
    assert set(kept[0].asDict()) == {"doc_id", "text"}

    bad = {
        "stages": [
            {"name": "src", "plugin": "File", "properties": {"path": src}},
            {
                "name": "ppl",
                "plugin": "PerplexityFilter",
                "properties": {"smoothing": "kn", "maxPpl": "x"},
            },
        ],
        "connections": [{"from": "src", "to": "ppl"}],
    }
    with pytest.raises(ValidationError) as ei:
        compile_pipeline(spark, bad)
    msg = str(ei.value)
    assert "modelPath" in msg and "kn" in msg and "maxPpl" in msg


def test_dsir_weights_plugin(spark, tmp_path):
    from topn_spark.pipelines import run_pipeline

    target = str(tmp_path / "dsir_target")
    spark.createDataFrame(
        [(100 + i, "quality prose words") for i in range(5)],
        "doc_id long, text string",
    ).write.parquet(target)
    src = str(tmp_path / "dsir_src")
    spark.createDataFrame(
        [(1, "quality prose words"), (2, "spam junk noise")],
        "doc_id long, text string",
    ).write.parquet(src)
    dst = str(tmp_path / "dsir_out")
    spec = {
        "stages": [
            {"name": "src", "plugin": "File", "properties": {"path": src}},
            {
                "name": "w",
                "plugin": "DsirWeights",
                "properties": {"targetPath": target, "nBuckets": "64"},
            },
            {"name": "sink", "plugin": "FileSink", "properties": {"path": dst}},
        ],
        "connections": [
            {"from": "src", "to": "w"},
            {"from": "w", "to": "sink"},
        ],
    }
    run_pipeline(spark, spec)
    out = {r.doc_id: r for r in spark.read.parquet(dst).collect()}
    assert out[1].logweight > out[2].logweight
    assert out[1].n_tokens == 3


def test_example_web_corpus_lm_pipeline_runs(spark, tmp_path):
    """The shipped examples/web_corpus_lm_pipeline.json spec runs
    end-to-end through the CLI entry path with macro substitution."""
    import json

    from topn_spark.operators.lm import save_bigram_lm, train_bigram_lm
    from topn_spark.pipelines import run_pipeline

    clean = (
        "the quick brown fox jumps over the lazy dog and then "
        "the dog jumps over the quick brown fox again today " * 3
    ).strip()
    gibberish = (
        "the zorb and vex of snerd that have with blim golp trun " * 6
    ).strip()
    train = spark.createDataFrame(
        [(i, clean) for i in range(30)], "doc_id long, text string"
    )
    uni, bi = train_bigram_lm(train)
    model = str(tmp_path / "ex_model")
    save_bigram_lm(uni, bi, model)
    target = str(tmp_path / "ex_target")
    train.limit(5).write.parquet(target)
    src = str(tmp_path / "ex_src")
    spark.createDataFrame(
        [(1, clean), (2, gibberish), (3, "too short")],
        "doc_id long, text string",
    ).write.parquet(src)
    out = str(tmp_path / "ex_out")

    spec = json.load(open("examples/web_corpus_lm_pipeline.json"))
    run_pipeline(
        spark,
        spec,
        substitutions={
            "input": src,
            "model": model,
            "target": target,
            "maxPpl": "100",
            "out": out,
        },
    )
    rows = spark.read.parquet(out).collect()
    # only the clean in-model doc survives rules + the ppl head cut
    assert [r.doc_id for r in rows] == [1]
    assert rows[0].logweight is not None


def test_lm_gated_pipeline_runs_streaming(spark, tmp_path):
    """The SAME LM-gated spec runs under the streaming executor: the
    saved-model perplexity cut and DSIR weights apply per micro-batch
    through the one batch-plugin code path (train offline, gate the
    stream forever)."""
    import json

    from topn_spark.operators.lm import save_bigram_lm, train_bigram_lm
    from topn_spark.pipelines import run_streaming_pipeline

    clean = (
        "the quick brown fox jumps over the lazy dog and then "
        "the dog jumps over the quick brown fox again today " * 3
    ).strip()
    gibberish = (
        "the zorb and vex of snerd that have with blim golp trun " * 6
    ).strip()
    train = spark.createDataFrame(
        [(i, clean) for i in range(30)], "doc_id long, text string"
    )
    uni, bi = train_bigram_lm(train)
    model = str(tmp_path / "st_model")
    save_bigram_lm(uni, bi, model)
    target = str(tmp_path / "st_target")
    train.limit(5).write.parquet(target)
    src = str(tmp_path / "st_src")
    spark.createDataFrame(
        [(1, clean), (2, gibberish)], "doc_id long, text string"
    ).write.mode("append").parquet(src)
    out = str(tmp_path / "st_out")

    spec = json.load(open("examples/web_corpus_lm_pipeline.json"))
    spec["stages"][0]["properties"]["schema"] = (
        "doc_id long, text string"
    )
    subs = {
        "input": src,
        "model": model,
        "target": target,
        "maxPpl": "100",
        "out": out,
    }
    q = run_streaming_pipeline(
        spark, spec, str(tmp_path / "st_ck"), substitutions=subs
    )
    q.awaitTermination(120)
    assert [
        r.doc_id for r in spark.read.parquet(out).collect()
    ] == [1]

    # second micro-batch drains through the same checkpoint
    spark.createDataFrame(
        [(3, clean), (4, gibberish)], "doc_id long, text string"
    ).write.mode("append").parquet(src)
    q = run_streaming_pipeline(
        spark, spec, str(tmp_path / "st_ck"), substitutions=subs
    )
    q.awaitTermination(120)
    assert sorted(
        r.doc_id for r in spark.read.parquet(out).collect()
    ) == [1, 3]


def test_langid_plugin_routes_and_validates(spark, tmp_path):
    """LangId classifies under a SAVED artifact; keepOnly routes a
    corpus to one language with the input schema preserved;
    missing modelPath / bad keepScores batch at deploy."""
    import pytest

    from topn_spark.errors import ValidationError
    from topn_spark.operators.langid import save_langid, train_langid
    from topn_spark.pipelines import compile_pipeline, run_pipeline

    train = spark.createDataFrame(
        [
            ("en", "the small children read their books in the"
                   " quiet library by the river"),
            ("ru", "маленькие дети читают свои книги в тихой"
                   " библиотеке у реки"),
        ],
        "lang string, text string",
    )
    counts, classes = train_langid(train)
    model = str(tmp_path / "langid_model")
    save_langid(counts, classes, model)

    src = str(tmp_path / "lid_src")
    spark.createDataFrame(
        [
            (1, "the children read books by the quiet river"),
            (2, "дети читают книги у тихой реки"),
        ],
        "doc_id long, text string",
    ).write.parquet(src)
    dst = str(tmp_path / "lid_out")
    spec = {
        "stages": [
            {"name": "src", "plugin": "File", "properties": {"path": src}},
            {
                "name": "lid",
                "plugin": "LangId",
                "properties": {"modelPath": model, "keepOnly": "ru"},
            },
            {"name": "sink", "plugin": "FileSink", "properties": {"path": dst}},
        ],
        "connections": [
            {"from": "src", "to": "lid"},
            {"from": "lid", "to": "sink"},
        ],
    }
    run_pipeline(spark, spec)
    kept = spark.read.parquet(dst).collect()
    assert [r.doc_id for r in kept] == [2]
    assert set(kept[0].asDict()) == {"doc_id", "text"}

    # annotate mode appends exactly (n_grams, lang_pred)
    dst2 = str(tmp_path / "lid_out2")
    spec["stages"][1]["properties"] = {"modelPath": model}
    spec["stages"][2]["properties"] = {"path": dst2}
    run_pipeline(spark, spec)
    out = {r.doc_id: r for r in spark.read.parquet(dst2).collect()}
    assert out[1].lang_pred == "en" and out[2].lang_pred == "ru"
    assert set(out[1].asDict()) == {
        "doc_id", "text", "n_grams", "lang_pred",
    }

    bad = {
        "stages": [
            {"name": "src", "plugin": "File", "properties": {"path": src}},
            {
                "name": "lid",
                "plugin": "LangId",
                "properties": {"keepScores": "maybe"},
            },
        ],
        "connections": [{"from": "src", "to": "lid"}],
    }
    with pytest.raises(ValidationError) as ei:
        compile_pipeline(spark, bad)
    msg = str(ei.value)
    assert "modelPath" in msg and "maybe" in msg


# ---------------------------------------------------------------- #
# the full pretraining-data pipeline spec (examples/                #
# pretrain_corpus_pipeline.json): WARC files on disk -> shards on   #
# disk, every drop stage exercised by a planted pathology           #
# ---------------------------------------------------------------- #

#: clean-English sentence pool — each fixture doc is these six lines
#: plus one doc-specific tag line, so every doc passes Gopher
#: (>= 50 words, stopwords, mean word len) and C4 (>= 5 sentences,
#: every line >= 3 words ending in '.').
_E2E_LINES = (
    "the quick brown fox jumps over the lazy dog near the river.",
    "the small children read their books in the quiet library.",
    "a gentle rain falls on the green hills and the fisherman waits.",
    "the wooden boat drifts along the calm water with morning light.",
    "every village keeps the harvest of the long summer in the barn.",
    "the teacher walks to the market and buys bread with the coin.",
)

_E2E_SEEDS = {
    "en": "the quick brown fox jumps over the lazy dog and the small"
    " children read their books in the quiet library",
    "fr": "le rapide renard brun saute par dessus le chien paresseux"
    " et les petits enfants lisent leurs livres dans la tranquille"
    " bibliotheque du village pres de la riviere",
    "de": "der schnelle braune fuchs springt ueber den faulen hund"
    " und die kleinen kinder lesen ihre buecher in der stillen"
    " bibliothek des dorfes am fluss",
}


def _e2e_doc(tag: str) -> str:
    return "\n".join(
        _E2E_LINES
        + (f"the farmer counts {tag} baskets of apples every evening.",)
    )


def _e2e_corpus() -> list[tuple[str, str]]:
    """(uri, page text) fixtures: six clean docs, one exact-dup pair,
    one near-dup pair, and one planted drop per filter stage."""
    docs = [
        (f"http://crawl.test/clean/{i}", _e2e_doc(f"tag{c}{c}"))
        for i, c in enumerate("abcdef")
    ]
    docs += [
        # PII plant: survives every filter, redacted in place before
        # tokenization (trained INTO the LM so its bigrams are
        # in-vocab — the gate under test is PiiRedact, not ppl)
        (
            "http://crawl.test/clean/pii",
            _e2e_doc("piitag")
            + "\nwrite to me at bob@mail-example.com for details.",
        ),
        ("http://crawl.test/dup/a", _e2e_doc("dupword")),
        ("http://crawl.test/dup/b", _e2e_doc("dupword")),
        ("http://crawl.test/near/a", _e2e_doc("nearone")),
        ("http://crawl.test/near/b", _e2e_doc("neartwo")),
        # Gopher drop: far under 50 words
        ("http://crawl.test/bad/short", "the end."),
        # C4 drop: enough words, but no line ends in terminal
        # punctuation -> zero kept lines -> under 5 sentences
        (
            "http://crawl.test/bad/nolines",
            "\n".join(ln.rstrip(".") for ln in _E2E_LINES) + "\n"
            + "the miller grinds the grain of the field all day",
        ),
        # perplexity drop: English-shaped function words around
        # out-of-vocabulary nonsense -> passes Gopher/C4/langid,
        # scores far above the head-cut under the fixture LM
        (
            "http://crawl.test/bad/gibberish",
            "\n".join(
                f"the {a} and the {b} of the {c} with the {d}."
                for a, b, c, d in [
                    ("qun", "blit", "dran", "grun"),
                    ("vor", "mox", "felp", "snib"),
                    ("zeth", "crad", "plon", "wisk"),
                    ("jarn", "tove", "brill", "gyre"),
                    ("slith", "mimsy", "borog", "rath"),
                    ("frum", "bander", "jubju", "tulg"),
                    ("uffish", "whiff", "burbl", "galum"),
                ]
            ),
        ),
        # language drop: French page, keepOnly=en
        (
            "http://crawl.test/bad/french",
            "\n".join([_E2E_SEEDS["fr"] + "." for _ in range(7)]),
        ),
        # domain drop: clean English text on a blocklisted domain
        ("http://blocked.ads-spam.example/bad/domain",
         _e2e_doc("blocked")),
    ]
    return docs


def test_pretrain_corpus_pipeline_end_to_end(spark, tmp_path):
    """The product proof: the shipped examples spec runs WARC files
    on disk through extract -> langid -> Gopher -> C4 -> perplexity
    -> dedup -> leakage-safe split -> byte BPE -> packing -> verified
    shards, each stage dropping exactly its planted pathology."""
    import json

    from topn_spark.operators.langid import save_langid, train_langid
    from topn_spark.operators.lm import save_bigram_lm, train_bigram_lm
    from topn_spark.operators.pipeline import verify_shards
    from topn_spark.operators.textstats import (
        bpe_train,
        save_bpe_merges,
    )
    from topn_spark.sources.warc import encode_warc

    docs = _e2e_corpus()
    warc_dir = tmp_path / "crawl"
    warc_dir.mkdir()
    half = len(docs) // 2
    for k, chunk in enumerate((docs[:half], docs[half:])):
        (warc_dir / f"seg{k}.warc").write_bytes(
            encode_warc(
                [("response", uri, text.encode()) for uri, text in chunk]
            )
        )

    # train the three artifacts once, exactly as the spec comment says
    seeds = spark.createDataFrame(
        list(_E2E_SEEDS.items()), "lang string, text string"
    )
    lang_model = str(tmp_path / "langid_model")
    save_langid(*train_langid(seeds), lang_model)
    clean = spark.createDataFrame(
        [(u, t) for u, t in docs if "/bad/" not in u],
        "doc_id string, text string",
    )
    lm_model = str(tmp_path / "lm_model")
    save_bigram_lm(*train_bigram_lm(clean), lm_model)
    merges_path = str(tmp_path / "bpe_merges")
    save_bpe_merges(
        spark, bpe_train(clean, 30, mode="byte"), merges_path
    )

    with open("examples/pretrain_corpus_pipeline.json") as f:
        spec = json.load(f)
    out_dir = str(tmp_path / "shards")
    subs = {
        "input": str(warc_dir / "*.warc"),
        "blocklist": "ads-spam.example, other-junk.example",
        "langModel": lang_model,
        "lang": "en",
        "lmModel": lm_model,
        "maxPpl": "80",
        "merges": merges_path,
        "seqLen": "16",
        "out": out_dir,
        "nShards": "4",
    }
    # deploy-phase validation passes with every macro deferred and
    # runs NO jobs on the real corpus
    compile_pipeline(spark, spec)
    out = run_pipeline(spark, spec, subs)

    uris = lambda df: {r.doc_id for r in df.select("doc_id").collect()}
    survivors = {u for u, _ in docs if "/bad/" not in u}
    # each planted pathology dies at ITS stage
    after_urls = uris(out["urls"])
    assert "http://blocked.ads-spam.example/bad/domain" not in after_urls
    assert survivors <= after_urls
    after_lang = uris(out["lang"])
    assert "http://crawl.test/bad/french" not in after_lang
    assert survivors | {
        "http://crawl.test/bad/short",
        "http://crawl.test/bad/nolines",
        "http://crawl.test/bad/gibberish",
    } <= after_lang
    after_gopher = uris(out["gopher"])
    assert "http://crawl.test/bad/short" not in after_gopher
    assert "http://crawl.test/bad/nolines" in after_gopher
    after_c4 = uris(out["c4"])
    assert "http://crawl.test/bad/nolines" not in after_c4
    assert "http://crawl.test/bad/gibberish" in after_c4
    after_ppl = uris(out["ppl"])
    assert "http://crawl.test/bad/gibberish" not in after_ppl
    assert after_ppl == survivors
    # exact dedup keeps the lexicographically-first duplicate
    after_dedup = uris(out["dedup"])
    assert after_dedup == survivors - {"http://crawl.test/dup/b"}
    # leakage safety: the near-dup pair lands in ONE split
    splits = {
        r.doc_id: r.split for r in out["split"].collect()
    }
    assert (
        splits["http://crawl.test/near/a"]
        == splits["http://crawl.test/near/b"]
    )
    # PII redacted in place before tokenization: no raw address
    # anywhere, placeholder present on the planted doc (when its
    # split is train)
    pii_rows = {r.doc_id: r.text for r in out["pii"].collect()}
    assert all("bob@" not in t for t in pii_rows.values())
    if "http://crawl.test/clean/pii" in pii_rows:
        assert (
            "|||EMAIL_ADDRESS|||"
            in pii_rows["http://crawl.test/clean/pii"]
        )
    # packing conserves every token of the train split
    train_tokens = {
        r.doc_id: r.n_bpe_tokens for r in out["tok"].collect()
    }
    assert set(train_tokens) == {
        u for u, s in splits.items() if s == "train"
    }
    packed = out["pack"].collect()
    assert sum(r.n_tokens for r in packed) == sum(train_tokens.values())
    assert all(
        r.n_tokens == 16 for r in packed[:-1]
    ) or sum(r.n_tokens != 16 for r in packed) <= 1
    # shards on disk: manifest-verified, token-exact
    verdict = verify_shards(spark, out_dir, token_col="n_tokens")
    rows = verdict.collect()
    assert rows and all(r.ok for r in rows)
    assert sum(r.n_docs for r in rows) == len(packed)
    assert sum(r.n_tokens for r in rows) == sum(
        t for t in train_tokens.values()
    )


def test_new_stage_validation_failures(spark, tmp_path):
    """Config validation for the round-8 plugins: every bad property
    is COLLECTED (multi-error, the reference's FailureCollector
    discipline), not raised first-error-only."""
    src = _golden_source(spark, tmp_path)
    spec = {
        "stages": [
            {"name": "src", "plugin": "File", "properties": {"path": src}},
            {
                "name": "split",
                "plugin": "LeakageSafeSplit",
                "properties": {
                    "textField": "nope",
                    "family": "sha9",
                    "numHashes": "x",
                    "threshold": "fast",
                },
            },
            {
                "name": "tok",
                "plugin": "Tokenize",
                "properties": {"mode": "latin"},
            },
            {
                "name": "pack",
                "plugin": "PackSequences",
                "properties": {"seqLen": "0", "tokensField": "nope"},
            },
            {
                "name": "shards",
                "plugin": "ShardSink",
                "properties": {"path": str(tmp_path / "s")},
            },
        ],
        "connections": [
            {"from": "src", "to": "split"},
            {"from": "split", "to": "tok"},
            {"from": "tok", "to": "pack"},
            {"from": "pack", "to": "shards"},
        ],
    }
    with pytest.raises(ValidationError) as ei:
        compile_pipeline(spark, spec)
    msg = str(ei.value)
    for frag in (
        "textField", "sha9", "numHashes", "threshold", "latin",
        "seqLen", "nShards",
    ):
        assert frag in msg, frag


def test_warc_source_stage_reads_files(spark, tmp_path):
    """Warc batchsource: .warc files on disk -> records, file path as
    blob_id; strict validation catches bad literals."""
    from topn_spark.sources.warc import encode_warc

    p = tmp_path / "one.warc"
    p.write_bytes(
        encode_warc(
            [
                ("response", "http://t/1", b"<p>hello there</p>"),
                ("request", "http://t/1", b"GET /"),
            ]
        )
    )
    spec = {
        "stages": [
            {
                "name": "src",
                "plugin": "Warc",
                "properties": {"path": str(p)},
            },
        ],
        "connections": [],
    }
    out = run_pipeline(spark, spec)["src"].collect()
    assert len(out) == 2
    assert {r.warc_type for r in out} == {"response", "request"}
    assert all(r.blob_id.endswith("one.warc") for r in out)

    bad = {
        "stages": [
            {"name": "src", "plugin": "Warc", "properties": {"strict": "no"}},
        ],
        "connections": [],
    }
    with pytest.raises(ValidationError) as ei:
        compile_pipeline(spark, bad)
    assert "path" in str(ei.value) and "strict" in str(ei.value)


def test_url_filter_stage(spark, tmp_path):
    """UrlFilter: literal blocklist, file-based allowlist (comments
    and blank lines skipped), malformed-URL behavior, and collected
    validation failures."""
    rows = [
        (1, "http://www.example.com/a"),
        (2, "https://sub.ads-tracker.net/b"),
        (3, "http://news.bbc.co.uk/c"),
        (4, "not a url at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")

    def run(props):
        spec = {
            "stages": [
                {"name": "src", "plugin": "File",
                 "properties": {"path": "x"}},
                {"name": "gate", "plugin": "UrlFilter",
                 "properties": props},
            ],
            "connections": [{"from": "src", "to": "gate"}],
        }
        from topn_spark.pipelines import run_pipeline_with_source

        out = run_pipeline_with_source(spark, spec, "src", df)["gate"]
        return sorted(r.doc_id for r in out.collect())

    # block: matches drop; a malformed URL has no domain -> kept
    assert run(
        {"action": "block", "domains": "ads-tracker.net, bbc.co.uk"}
    ) == [1, 4]
    # allow via file artifact: only listed domains survive
    lst = tmp_path / "allow.txt"
    lst.write_text("# allowlist\nexample.com\n\nbbc.co.uk\n")
    assert run(
        {"action": "allow", "domainsPath": str(lst)}
    ) == [1, 3]
    # host matching distinguishes subdomains
    assert run(
        {"action": "block", "matchOn": "host",
         "domains": "sub.ads-tracker.net"}
    ) == [1, 3, 4]
    # schema passthrough
    from topn_spark.pipelines import run_pipeline_with_source

    spec = {
        "stages": [
            {"name": "src", "plugin": "File", "properties": {"path": "x"}},
            {"name": "gate", "plugin": "UrlFilter",
             "properties": {"domains": "example.com"}},
        ],
        "connections": [{"from": "src", "to": "gate"}],
    }
    out = run_pipeline_with_source(spark, spec, "src", df)["gate"]
    assert out.columns == ["doc_id", "url"]

    bad = {
        "stages": [
            {"name": "src", "plugin": "File", "properties": {"path": "x"}},
            {"name": "gate", "plugin": "UrlFilter",
             "properties": {"action": "maybe", "matchOn": "tld",
                            "urlField": "nope"}},
        ],
        "connections": [{"from": "src", "to": "gate"}],
    }
    from topn_spark.errors import ValidationError as VE

    with pytest.raises(VE) as ei:
        _ = run_pipeline_with_source(spark, bad, "src", df)
    msg = str(ei.value)
    for frag in ("maybe", "tld", "urlField", "domains"):
        assert frag in msg, frag


def test_tokenize_stage_unigram_lm_artifact(spark, tmp_path):
    """Tokenize piecesPath: a saved unigram-LM artifact segments the
    stream; keepTokens=-1 arrays feed PackSequences; mergesPath +
    piecesPath together is a config error."""
    from topn_spark.operators.textstats import (
        save_unigram_lm,
        unigram_lm_train,
    )
    from topn_spark.pipelines import run_pipeline_with_source

    corpus = spark.createDataFrame(
        [(i, "the cats and the dogs ran fast") for i in range(6)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "unigram")
    save_unigram_lm(
        spark,
        unigram_lm_train(
            corpus, vocab_size=20, seed_size=200, max_piece_len=4
        ),
        path,
    )
    spec = {
        "stages": [
            {"name": "src", "plugin": "File", "properties": {"path": "x"}},
            {"name": "tok", "plugin": "Tokenize",
             "properties": {"piecesPath": path, "keepTokens": "-1"}},
            {"name": "pack", "plugin": "PackSequences",
             "properties": {"seqLen": "8"}},
        ],
        "connections": [
            {"from": "src", "to": "tok"},
            {"from": "tok", "to": "pack"},
        ],
    }
    out = run_pipeline_with_source(spark, spec, "src", corpus)
    tok = out["tok"].collect()
    assert all(len(r.tokens) == r.n_lm_tokens for r in tok)
    packed = out["pack"].collect()
    assert sum(r.n_tokens for r in packed) == sum(
        r.n_lm_tokens for r in tok
    )

    from topn_spark.errors import ValidationError as VE

    both = {
        "stages": [
            {"name": "src", "plugin": "File", "properties": {"path": "x"}},
            {"name": "tok", "plugin": "Tokenize",
             "properties": {"piecesPath": path, "mergesPath": path}},
        ],
        "connections": [{"from": "src", "to": "tok"}],
    }
    with pytest.raises(VE, match="mutually exclusive"):
        run_pipeline_with_source(spark, both, "src", corpus)


def test_pii_redact_stage(spark):
    """PiiRedact plugin: annotate mode appends the accounting
    columns; replaceText swaps the text in place and keeps the
    input schema."""
    from topn_spark.pipelines import run_pipeline_with_source

    df = spark.createDataFrame(
        [(1, "write to a@b.io now"), (2, "clean")],
        "doc_id long, text string",
    )

    def spec(props):
        return {
            "stages": [
                {"name": "src", "plugin": "File",
                 "properties": {"path": "x"}},
                {"name": "pii", "plugin": "PiiRedact",
                 "properties": props},
            ],
            "connections": [{"from": "src", "to": "pii"}],
        }

    out = run_pipeline_with_source(spark, spec({}), "src", df)["pii"]
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].clean_text == "write to |||EMAIL_ADDRESS||| now"
    assert rows[1].text == "write to a@b.io now"  # original kept
    assert rows[2].pii_total == 0

    out2 = run_pipeline_with_source(
        spark, spec({"replaceText": "true"}), "src", df
    )["pii"]
    assert out2.columns == ["doc_id", "text"]
    got = {r.doc_id: r.text for r in out2.collect()}
    assert got[1] == "write to |||EMAIL_ADDRESS||| now"

    from topn_spark.errors import ValidationError as VE

    with pytest.raises(VE, match="replaceText"):
        run_pipeline_with_source(
            spark, spec({"replaceText": "yes"}), "src", df
        )


def test_quality_classifier_stage(spark, tmp_path):
    """QualityClassifier: a saved logreg artifact gates the stream;
    annotate mode appends prob; artifact/feature mismatches fail at
    the stage, not in the dot product."""
    from topn_spark.operators.textstats import (
        QUALITY_FEATURES,
        add_quality,
        logreg_train,
        save_logreg,
    )
    from topn_spark.pipelines import run_pipeline_with_source

    good = "the quick brown fox jumps over the lazy dog again today"
    bad = "=== 1 2 3 !!! === ### 4 5 ((( ))) [[[ ]]] ??? 6 7 !!!"
    train = spark.createDataFrame(
        [(i, good if i % 2 else bad) for i in range(40)],
        "doc_id long, text string",
    )
    w = logreg_train(
        add_quality(train), QUALITY_FEATURES,
        label_col="quality_keep", n_iters=30,
    )
    path = str(tmp_path / "logreg")
    save_logreg(spark, w, QUALITY_FEATURES, path)

    df = spark.createDataFrame(
        [(1, good), (2, bad), (3, None)],
        "doc_id long, text string",
    )

    def run(props):
        spec = {
            "stages": [
                {"name": "src", "plugin": "File",
                 "properties": {"path": "x"}},
                {"name": "q", "plugin": "QualityClassifier",
                 "properties": dict({"modelPath": path}, **props)},
            ],
            "connections": [{"from": "src", "to": "q"}],
        }
        return run_pipeline_with_source(spark, spec, "src", df)["q"]

    ann = {r.doc_id: r for r in run({}).collect()}
    assert ann[1].prob > ann[2].prob
    assert ann[3].prob is None  # no features -> no opinion
    cut = (ann[1].prob + ann[2].prob) / 2
    gated = run({"minProb": repr(cut)})
    assert gated.columns == ["doc_id", "text"]
    assert [r.doc_id for r in gated.collect()] == [1]

    # a wrong artifact fails loudly
    from topn_spark.operators.textstats import load_logreg

    spark.createDataFrame(
        [(1, 2.0)], "a long, b double"
    ).write.mode("overwrite").parquet(str(tmp_path / "junk"))
    with pytest.raises(ValueError, match="not a logreg artifact"):
        load_logreg(spark, str(tmp_path / "junk"))


def test_dedup_against_stage(spark, tmp_path):
    """DedupAgainst: the incremental-ingest gate drops rows whose
    content already exists in the base corpus on disk."""
    from topn_spark.pipelines import run_pipeline_with_source

    base = str(tmp_path / "base")
    spark.createDataFrame(
        [(100, "seen before"), (101, "also seen")],
        "doc_id long, text string",
    ).write.parquet(base)
    df = spark.createDataFrame(
        [(1, "seen before"), (2, "brand new"), (3, "also seen")],
        "doc_id long, text string",
    )
    spec = {
        "stages": [
            {"name": "src", "plugin": "File", "properties": {"path": "x"}},
            {"name": "gate", "plugin": "DedupAgainst",
             "properties": {"basePath": base, "uniqueFields": "text"}},
        ],
        "connections": [{"from": "src", "to": "gate"}],
    }
    out = run_pipeline_with_source(spark, spec, "src", df)["gate"]
    assert sorted(r.doc_id for r in out.collect()) == [2]
    assert out.columns == ["doc_id", "text"]

    from topn_spark.errors import ValidationError as VE

    bad = dict(spec)
    bad["stages"] = [
        spec["stages"][0],
        {"name": "gate", "plugin": "DedupAgainst",
         "properties": {"uniqueFields": "nope"}},
    ]
    with pytest.raises(VE) as ei:
        run_pipeline_with_source(spark, bad, "src", df)
    msg = str(ei.value)
    assert "basePath" in msg and "nope" in msg


def test_neardup_collapse_stage(spark):
    """NearDupCollapse: near-dup texts collapse to the best-scoring
    survivor (or min id without a score); validation failures
    collected."""
    from topn_spark.pipelines import run_pipeline_with_source

    base = ("the cat sat on the mat near the red door today and "
            "watched the quiet street below for a while longer").split()
    near = " ".join(base[:12] + ["changed"] + base[13:])
    df = spark.createDataFrame(
        [
            (1, " ".join(base), 5.0),
            (2, near, 9.0),
            (3, "totally different words entirely here", 1.0),
        ],
        "doc_id long, text string, score double",
    )

    def run(props):
        spec = {
            "stages": [
                {"name": "src", "plugin": "File",
                 "properties": {"path": "x"}},
                {"name": "nd", "plugin": "NearDupCollapse",
                 "properties": props},
            ],
            "connections": [{"from": "src", "to": "nd"}],
        }
        out = run_pipeline_with_source(spark, spec, "src", df)["nd"]
        return sorted(r.doc_id for r in out.collect())

    # md5 family catches the planted pair; best score (doc 2) wins
    assert run({"family": "md5", "scoreField": "score"}) == [2, 3]
    # min-id convention without a score
    assert run({"family": "md5"}) == [1, 3]

    from topn_spark.errors import ValidationError as VE

    with pytest.raises(VE) as ei:
        run({"family": "sha", "numHashes": "x", "scoreField": "nope"})
    msg = str(ei.value)
    for frag in ("sha", "numHashes", "scoreField"):
        assert frag in msg, frag


def test_token_budget_mixture_stage(spark):
    """TokenBudgetMixture: weights parse from the spec string; each
    group fills to its token quota; macro'd weights defer at deploy."""
    from topn_spark.pipelines import (
        compile_pipeline,
        run_pipeline_with_source,
    )

    df = spark.createDataFrame(
        [(i, "a" if i < 10 else "b", 10) for i in range(14)],
        "doc_id long, source string, n_tokens long",
    )
    spec = {
        "stages": [
            {"name": "src", "plugin": "File", "properties": {"path": "x"}},
            {"name": "mix", "plugin": "TokenBudgetMixture",
             "properties": {"weights": "a:0.5, b:0.5",
                            "totalTokens": "60"}},
        ],
        "connections": [{"from": "src", "to": "mix"}],
    }
    out = run_pipeline_with_source(spark, spec, "src", df)["mix"]
    got = {}
    for r in out.collect():
        got.setdefault(r.source, []).append(r.doc_id)
    assert len(got["a"]) == 3 and len(got["b"]) == 3  # 30 tokens each

    from topn_spark.errors import ValidationError as VE

    bad = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "mix", "plugin": "TokenBudgetMixture",
             "properties": {"weights": "nonsense"}},
        ],
        "connections": [{"from": "src", "to": "mix"}],
    }
    with pytest.raises(VE) as ei:
        run_pipeline_with_source(spark, bad, "src", df)
    msg = str(ei.value)
    assert "weights" in msg and "totalTokens" in msg


def test_pack_sequences_stage_sep_token(spark):
    """PackSequences sepToken: the EOS separator is appended after
    every document (cast to the token element type), counted as a
    real training token."""
    from topn_spark.pipelines import run_pipeline_with_source

    df = spark.createDataFrame(
        [(1, [7, 8]), (2, [9]), (3, [4, 5, 6])],
        "doc_id long, tokens array<int>",
    )
    spec = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "pack", "plugin": "PackSequences",
             "properties": {"seqLen": "4", "sepToken": "0"}},
        ],
        "connections": [{"from": "src", "to": "pack"}],
    }
    out = run_pipeline_with_source(spark, spec, "src", df)
    packed = sorted(out["pack"].collect(), key=lambda r: r.seq_id)
    flat = [t for r in packed for t in r.tokens]
    assert flat == [7, 8, 0, 9, 0, 4, 5, 6, 0]
    assert sum(r.n_tokens for r in packed) == 9
    assert all(r.n_tokens == 4 for r in packed[:-1])


def test_routed_quality_stage(spark, tmp_path):
    """RoutedQuality plugin: per-language thresholds from the spec
    (JSON routes), per-language LM gate from saved artifacts
    (lmPaths), keepOnly gate shape; bad routes JSON / unknown
    params / max_ppl-without-model are collected failures."""
    import pytest

    from topn_spark.errors import ValidationError
    from topn_spark.operators.lm import (
        save_bigram_lm,
        train_bigram_lm,
    )
    from topn_spark.pipelines import run_pipeline_with_source

    en = (
        "the data to be of and that have with pipeline value"
        " system goes right here now.\n" * 7
    )
    de = (
        "der die das und mit von daten wert system hier gehen"
        " weiter voran jetzt gleich.\n" * 7
    )
    df = spark.createDataFrame(
        [(1, "en", en), (2, "de", de), (3, "fr", en)],
        "doc_id long, lang string, text string",
    )
    lm_path = str(tmp_path / "enlm")
    save_bigram_lm(*train_bigram_lm(df.where("lang = 'en'")), lm_path)

    routes = (
        '{"en": {"max_ppl": 1000.0}, "de": {"min_stop_hits": 3,'
        ' "stopwords": ["der", "die", "das", "und", "mit", "von"]}}'
    )

    def spec(props):
        return {
            "stages": [
                {"name": "src", "plugin": "File",
                 "properties": {"path": "x"}},
                {"name": "rq", "plugin": "RoutedQuality",
                 "properties": props},
            ],
            "connections": [{"from": "src", "to": "rq"}],
        }

    out = run_pipeline_with_source(
        spark,
        spec({"routes": routes,
              "lmPaths": '{"en": "%s"}' % lm_path}),
        "src",
        df,
    )["rq"].collect()
    got = {r.doc_id: r for r in out}
    assert got[1].routed_keep and got[1].ppl is not None
    assert got[2].routed_keep and got[2].ppl is None
    assert got[3].route_reason == "unrouted"

    kept = run_pipeline_with_source(
        spark,
        spec({"routes": routes, "lmPaths": '{"en": "%s"}' % lm_path,
              "keepOnly": "true"}),
        "src",
        df,
    )["rq"]
    assert kept.columns == df.columns
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2]

    with pytest.raises(ValidationError) as ei:
        run_pipeline_with_source(
            spark,
            spec({"routes": '{"en": {"min_wordz": 1}}',
                  "keepOnly": "maybe"}),
            "src",
            df,
        )
    msg = str(ei.value)
    assert "min_wordz" in msg and "keepOnly" in msg
    with pytest.raises(ValidationError, match="lmPaths"):
        run_pipeline_with_source(
            spark, spec({"routes": '{"en": {"max_ppl": 5.0}}'}),
            "src", df,
        )
    with pytest.raises(ValidationError, match="not valid JSON"):
        run_pipeline_with_source(
            spark, spec({"routes": "{nope"}), "src", df
        )


def test_epoch_mixture_and_decontaminate_stages(spark, tmp_path):
    """EpochMixture + Decontaminate plugins: spec-driven repeat
    counts and benchmark decontamination from a parquet eval set;
    collected validation failures for bad action / missing props."""
    import pytest

    from topn_spark.errors import ValidationError
    from topn_spark.pipelines import run_pipeline_with_source

    quote = (
        "the quick brown fox jumps over the lazy dog near the"
        " river bank"
    )
    ev_path = str(tmp_path / "bench")
    spark.createDataFrame(
        [(1, quote + " today indeed")], "qid long, text string"
    ).write.parquet(ev_path)
    df = spark.createDataFrame(
        [
            (1, "web", 10, "intro " + quote + " outro words here"),
            (2, "web", 10, "clean words all the way through this"),
            (3, "wiki", 10, "clean wiki words all the way through"),
        ],
        "doc_id long, source string, n_tokens int, text string",
    )

    spec = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "dc", "plugin": "Decontaminate",
             "properties": {"evalPath": ev_path, "action": "drop"}},
            {"name": "mix", "plugin": "EpochMixture",
             "properties": {"weights": "web:0.5,wiki:0.5",
                            "totalTokens": "40"}},
        ],
        "connections": [
            {"from": "src", "to": "dc"},
            {"from": "dc", "to": "mix"},
        ],
    }
    out = run_pipeline_with_source(spark, spec, "src", df)
    assert sorted(r.doc_id for r in out["dc"].collect()) == [2, 3]
    mixed = {r.doc_id: r.n_epochs for r in out["mix"].collect()}
    # quotas 20/20 over 10-token groups -> 2 epochs each survivor
    assert mixed == {2: 2, 3: 2}

    bad = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "dc", "plugin": "Decontaminate",
             "properties": {"action": "purge", "n": "0"}},
        ],
        "connections": [{"from": "src", "to": "dc"}],
    }
    with pytest.raises(ValidationError) as ei:
        run_pipeline_with_source(spark, bad, "src", df)
    msg = str(ei.value)
    assert "evalPath" in msg and "purge" in msg and "n" in msg


def test_tag_attributes_and_mixer_stages(spark, tmp_path):
    """TagAttributes + Mixer plugins: the spec-driven tag-then-mix
    loop — tag a corpus into a sidecar parquet, then re-mix from a
    JSON rule config without recomputing signals."""
    from topn_spark.pipelines import run_pipeline_with_source

    df = spark.createDataFrame(
        [
            (1, "the data of that value pipeline runs with care"),
            (2, "call 555 0199 ext 42 room 101 now ok then"),
            (3, "the story of that goes on and on and on here"),
        ],
        "doc_id long, text string",
    )
    tag_spec = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "tag", "plugin": "TagAttributes",
             "properties": {
                 "taggers": "word_count, stop_hits, digit_char_frac"
             }},
        ],
        "connections": [{"from": "src", "to": "tag"}],
    }
    out = run_pipeline_with_source(spark, tag_spec, "src", df)["tag"]
    assert out.columns == [
        "doc_id", "word_count", "stop_hits", "digit_char_frac"
    ]
    ap = str(tmp_path / "attrs")
    out.write.parquet(ap)

    cfg = (
        '{"include": [[["stop_hits", ">=", 2]]],'
        ' "exclude": [[["digit_char_frac", ">", 0.1]]]}'
    )
    mix_spec = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "mix", "plugin": "Mixer",
             "properties": {"config": cfg, "attributesPath": ap}},
        ],
        "connections": [{"from": "src", "to": "mix"}],
    }
    mixed = run_pipeline_with_source(spark, mix_spec, "src", df)["mix"]
    assert mixed.columns == df.columns  # filter shape
    assert sorted(r.doc_id for r in mixed.collect()) == [1, 3]


def test_mixer_stage_span_replacement(spark, tmp_path):
    """Mixer span_replacement through the spec: a span-attribute
    sidecar (dup_paragraph_spans) drives text splicing."""
    from topn_spark.operators.attributes import dup_paragraph_spans
    from topn_spark.pipelines import run_pipeline_with_source

    df = spark.createDataFrame(
        [(1, "u one\n\nBOILER"), (2, "BOILER\n\nu two")],
        "doc_id long, text string",
    )
    ap = str(tmp_path / "spans")
    dup_paragraph_spans(df).write.parquet(ap)
    spec = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "mix", "plugin": "Mixer",
             "properties": {
                 "config": '{"span_replacement":'
                           ' [{"span": "dup_paragraph_spans"}]}',
                 "attributesPath": ap,
             }},
        ],
        "connections": [{"from": "src", "to": "mix"}],
    }
    out = run_pipeline_with_source(spark, spec, "src", df)["mix"]
    rows = {r.doc_id: r.text for r in out.collect()}
    assert rows[1] == "u one\n\nBOILER"
    assert rows[2] == "\n\nu two"


def test_tag_attributes_and_mixer_validation(spark, tmp_path):
    """Collected validation failures: unknown taggers, missing
    Mixer props, malformed JSON, unknown attribute in rules."""
    import pytest

    from topn_spark.errors import ValidationError
    from topn_spark.pipelines import run_pipeline_with_source

    df = spark.createDataFrame(
        [(1, "some text here")], "doc_id long, text string"
    )

    def spec(plugin, props):
        return {
            "stages": [
                {"name": "src", "plugin": "File",
                 "properties": {"path": "x"}},
                {"name": "s", "plugin": plugin, "properties": props},
            ],
            "connections": [{"from": "src", "to": "s"}],
        }

    with pytest.raises(ValidationError, match="Unknown tagger"):
        run_pipeline_with_source(
            spark, spec("TagAttributes", {"taggers": "word_count,nope"}),
            "src", df,
        )
    with pytest.raises(ValidationError) as ei:
        run_pipeline_with_source(spark, spec("Mixer", {}), "src", df)
    msg = str(ei.value)
    assert "config" in msg and "attributesPath" in msg
    ap = str(tmp_path / "attrs")
    spark.createDataFrame(
        [(1, 3)], "doc_id long, word_count long"
    ).write.parquet(ap)
    with pytest.raises(ValidationError, match="not valid JSON"):
        run_pipeline_with_source(
            spark,
            spec("Mixer", {"config": "{nope", "attributesPath": ap}),
            "src", df,
        )
    with pytest.raises(ValidationError, match="unknown attribute"):
        run_pipeline_with_source(
            spark,
            spec("Mixer", {
                "config": '{"include": [[["bogus", ">", 1]]]}',
                "attributesPath": ap,
            }),
            "src", df,
        )


def test_tag_attributes_and_mixer_macro_lifecycle(spark, tmp_path):
    """@Macro lifecycle: macro-deferred taggers/config/attributesPath
    pass deploy (schema-faithful placeholders) and resolve at run."""
    from topn_spark.pipelines import compile_pipeline, run_pipeline_with_source

    df = spark.createDataFrame(
        [(1, "the data of that value here"), (2, "9 9 9 9 9 9")],
        "doc_id long, text string",
    )
    ap = str(tmp_path / "attrs")
    spark.createDataFrame(
        [(1, 4), (2, 0)], "doc_id long, stop_hits long"
    ).write.parquet(ap)
    src_path = str(tmp_path / "src")
    df.write.parquet(src_path)
    spec = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": src_path, "format": "parquet"}},
            {"name": "tag", "plugin": "TagAttributes",
             "properties": {"taggers": "${tg}"}},
            {"name": "mix", "plugin": "Mixer",
             "properties": {"config": "${cfg}",
                            "attributesPath": "${ap}"}},
        ],
        "connections": [
            {"from": "src", "to": "tag"},
            {"from": "src", "to": "mix"},
        ],
    }
    compile_pipeline(spark, spec)  # deploy: macros defer, no failure
    out = run_pipeline_with_source(
        spark, spec, "src", df,
        {"tg": "stop_hits",
         "cfg": '{"include": [[["stop_hits", ">=", 2]]]}',
         "ap": ap},
    )
    assert out["tag"].columns == ["doc_id", "stop_hits"]
    assert [r.doc_id for r in out["mix"].collect()] == [1]


def test_conversation_qc_and_render_chat_stages(spark):
    """ConversationQc + RenderChat plugins: spec-driven SFT prep —
    gate malformed conversations, then flatten survivors to ChatML;
    collected validation for bad template / roles / keepOnly."""
    import pytest

    from topn_spark.errors import ValidationError
    from topn_spark.pipelines import run_pipeline_with_source

    df = spark.createDataFrame(
        [
            (1, [("user", "hi"), ("assistant", "hello")]),
            (2, [("user", "hi"), ("user", "again"),
                 ("assistant", "ok")]),
        ],
        "conv_id long, "
        "messages array<struct<role:string,content:string>>",
    )
    spec = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "qc", "plugin": "ConversationQc",
             "properties": {"keepOnly": "true"}},
            {"name": "render", "plugin": "RenderChat",
             "properties": {}},
        ],
        "connections": [
            {"from": "src", "to": "qc"},
            {"from": "qc", "to": "render"},
        ],
    }
    out = run_pipeline_with_source(spark, spec, "src", df)
    assert [r.conv_id for r in out["qc"].collect()] == [1]
    rendered = out["render"].collect()[0]
    assert rendered.text.startswith("<|im_start|>user\nhi")

    bad = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "qc", "plugin": "ConversationQc",
             "properties": {"allowedRoles": " ,", "keepOnly": "maybe"}},
            {"name": "render", "plugin": "RenderChat",
             "properties": {"template": "llama"}},
        ],
        "connections": [
            {"from": "src", "to": "qc"},
            {"from": "qc", "to": "render"},
        ],
    }
    with pytest.raises(ValidationError) as ei:
        run_pipeline_with_source(spark, bad, "src", df)
    msg = str(ei.value)
    assert "allowedRoles" in msg and "keepOnly" in msg and "llama" in msg


def test_redact_conversation_and_preference_pairs_stages(spark):
    """RedactConversation + PreferencePairs plugins: spec-driven SFT
    reward-data prep with PII scrubbed in the message arrays."""
    import pytest

    from topn_spark.errors import ValidationError
    from topn_spark.pipelines import run_pipeline_with_source

    conv = spark.createDataFrame(
        [(1, [("user", "mail bob@x.org"), ("assistant", "ok")])],
        "conv_id long, "
        "messages array<struct<role:string,content:string>>",
    )
    spec = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "redact", "plugin": "RedactConversation",
             "properties": {}},
        ],
        "connections": [{"from": "src", "to": "redact"}],
    }
    out = run_pipeline_with_source(spark, spec, "src", conv)["redact"]
    row = out.collect()[0]
    assert row.messages[0].content == "mail |||EMAIL_ADDRESS|||"
    assert row.pii_email == 1

    samples = spark.createDataFrame(
        [(1, 0, 1.0, "bad"), (1, 1, 9.0, "good"),
         (2, 0, 5.0, "only")],
        "prompt_id long, sample_id long, score double, response string",
    )
    pp_spec = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "pairs", "plugin": "PreferencePairs",
             "type": "batchaggregator",
             "properties": {"minGap": "2"}},
        ],
        "connections": [{"from": "src", "to": "pairs"}],
    }
    pairs = run_pipeline_with_source(spark, pp_spec, "src", samples)["pairs"]
    rows = pairs.collect()
    assert len(rows) == 1
    assert rows[0].chosen_response == "good"

    bad = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "pairs", "plugin": "PreferencePairs",
             "type": "batchaggregator",
             "properties": {"minGap": "-1"}},
        ],
        "connections": [{"from": "src", "to": "pairs"}],
    }
    with pytest.raises(ValidationError, match="minGap"):
        run_pipeline_with_source(spark, bad, "src", samples)


def test_loss_spans_stage(spark):
    """LossSpans plugin: spans line up with the rendered text; bad
    template rejected with the allowed list."""
    import pytest

    from topn_spark.errors import ValidationError
    from topn_spark.pipelines import run_pipeline_with_source

    conv = spark.createDataFrame(
        [(1, [("user", "hi"), ("assistant", "yo!")])],
        "conv_id long, "
        "messages array<struct<role:string,content:string>>",
    )

    def spec(template):
        return {
            "stages": [
                {"name": "src", "plugin": "File",
                 "properties": {"path": "x"}},
                {"name": "spans", "plugin": "LossSpans",
                 "properties": {"template": template}},
            ],
            "connections": [{"from": "src", "to": "spans"}],
        }

    out = run_pipeline_with_source(spark, spec("plain"), "src", conv)
    row = out["spans"].collect()[0]
    (s,) = row.loss_spans
    assert row.text[s.start:s.end] == "yo!"
    assert row.loss_chars == 3

    with pytest.raises(ValidationError) as ei:
        run_pipeline_with_source(spark, spec("llama"), "src", conv)
    assert "chatml" in str(ei.value)


def test_loss_mask_and_pack_masked_stages(spark):
    """LossMask + PackMasked plugins: one spec takes conversations to
    packed trainable sequences (aligned mask, n_supervised); bad
    sepSupervised and a missing mask field are rejected loudly."""
    import pytest

    from topn_spark.errors import ValidationError
    from topn_spark.pipelines import run_pipeline_with_source

    conv = spark.createDataFrame(
        [
            (1, [("user", "two plus two"), ("assistant", "four")]),
            (2, [("user", "say hi"), ("assistant", "hi there")]),
        ],
        "conv_id long, "
        "messages array<struct<role:string,content:string>>",
    )
    spec = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "mask", "plugin": "LossMask", "properties": {}},
            {"name": "pack", "plugin": "PackMasked",
             "properties": {"idField": "conv_id", "seqLen": "8",
                            "sepToken": "</s>",
                            "sepSupervised": "true"}},
        ],
        "connections": [{"from": "src", "to": "mask"},
                        {"from": "mask", "to": "pack"}],
    }
    staged = run_pipeline_with_source(spark, spec, "src", conv)
    masked = staged["mask"].collect()
    for r in masked:
        assert len(r.tokens) == len(r.loss_mask)
        assert isinstance(r.tokens[0], str)
    packed = staged["pack"].collect()
    assert sum(r.n_tokens for r in packed) == (
        sum(len(r.tokens) for r in masked) + len(masked)
    )
    assert sum(r.n_supervised for r in packed) == (
        sum(r.n_supervised for r in masked) + len(masked)
    )

    bad_sep = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "mask", "plugin": "LossMask", "properties": {}},
            {"name": "pack", "plugin": "PackMasked",
             "properties": {"idField": "conv_id",
                            "sepSupervised": "maybe"}},
        ],
        "connections": [{"from": "src", "to": "mask"},
                        {"from": "mask", "to": "pack"}],
    }
    with pytest.raises(ValidationError, match="sepSupervised"):
        run_pipeline_with_source(spark, bad_sep, "src", conv)
    no_mask = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "pack", "plugin": "PackMasked",
             "properties": {"idField": "conv_id"}},
        ],
        "connections": [{"from": "src", "to": "pack"}],
    }
    with pytest.raises(ValidationError, match="maskField"):
        run_pipeline_with_source(spark, no_mask, "src", conv)


def test_pack_multimodal_stage_sep_supervised_folds_case(spark):
    """PackMultimodal reads sepSupervised like PackMasked: case-folded,
    so 'TRUE' supervises every separator."""
    from topn_spark.pipelines import run_pipeline_with_source

    conv = spark.createDataFrame(
        [
            (1, ["<|image|>", "a", "b"], [False, True, False], [7]),
            (2, ["c", "d"], [False, True], None),
        ],
        "conv_id long, tokens array<string>,"
        " loss_mask array<boolean>, asset_ids array<bigint>",
    )

    def supervised(flag):
        spec = {
            "stages": [
                {"name": "src", "plugin": "File",
                 "properties": {"path": "x"}},
                {"name": "pack", "plugin": "PackMultimodal",
                 "properties": {"seqLen": "4", "sepToken": "<eos>",
                                "sepSupervised": flag}},
            ],
            "connections": [{"from": "src", "to": "pack"}],
        }
        staged = run_pipeline_with_source(spark, spec, "src", conv)
        return sum(r.n_supervised for r in staged["pack"].collect())

    # two real supervised tokens, plus one separator per conversation
    assert supervised("false") == 2
    assert supervised("TRUE") == supervised("true") == 4

def test_fim_and_token_windows_stages(spark):
    """FimTransform + TokenWindows plugins: spec-driven code-corpus
    prep; invalid rate and stride > window rejected loudly."""
    import pytest

    from topn_spark.errors import ValidationError
    from topn_spark.pipelines import run_pipeline_with_source

    docs = spark.createDataFrame(
        [(i, "word " * 30) for i in range(20)],
        "doc_id long, text string",
    )
    spec = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "fim", "plugin": "FimTransform",
             "properties": {"rate": "1.0"}},
            {"name": "tok", "plugin": "Tokenize", "properties": {}},
            {"name": "win", "plugin": "TokenWindows",
             "properties": {"window": "8", "stride": "4"}},
        ],
        "connections": [{"from": "src", "to": "fim"},
                        {"from": "fim", "to": "tok"},
                        {"from": "tok", "to": "win"}],
    }
    staged = run_pipeline_with_source(spark, spec, "src", docs)
    assert all(
        r.fim_style in ("psm", "spm") for r in staged["fim"].collect()
    )
    wins = staged["win"].collect()
    assert all(1 <= r.n_tokens <= 8 for r in wins)
    assert {r.doc_id for r in wins} == set(range(20))

    bad_rate = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "fim", "plugin": "FimTransform",
             "properties": {"rate": "1.5"}},
        ],
        "connections": [{"from": "src", "to": "fim"}],
    }
    with pytest.raises(ValidationError, match="rate"):
        run_pipeline_with_source(spark, bad_rate, "src", docs)
    bad_stride = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "tok", "plugin": "Tokenize", "properties": {}},
            {"name": "win", "plugin": "TokenWindows",
             "properties": {"window": "8", "stride": "9"}},
        ],
        "connections": [{"from": "src", "to": "tok"},
                        {"from": "tok", "to": "win"}],
    }
    with pytest.raises(ValidationError, match="stride"):
        run_pipeline_with_source(spark, bad_stride, "src", docs)


def test_bpe_loss_mask_stage(spark, tmp_path):
    """BpeLossMask plugin: the full spec-driven tokenizer-aligned SFT
    chain — LossMask -> BpeLossMask (saved merges) -> PackMasked;
    missing mergesPath rejected loudly."""
    import pytest

    from topn_spark.errors import ValidationError
    from topn_spark.operators.textstats import save_bpe_merges
    from topn_spark.pipelines import run_pipeline_with_source

    merges_path = str(tmp_path / "merges")
    save_bpe_merges(spark, [("h", "i"), ("o", "k")], merges_path)
    conv = spark.createDataFrame(
        [(1, [("user", "hi hi"), ("assistant", "ok ok ok")])],
        "conv_id long, "
        "messages array<struct<role:string,content:string>>",
    )
    spec = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "mask", "plugin": "LossMask", "properties": {}},
            {"name": "bpe", "plugin": "BpeLossMask",
             "properties": {"mergesPath": merges_path,
                            "mode": "char"}},
            {"name": "pack", "plugin": "PackMasked",
             "properties": {"idField": "conv_id", "seqLen": "64"}},
        ],
        "connections": [{"from": "src", "to": "mask"},
                        {"from": "mask", "to": "bpe"},
                        {"from": "bpe", "to": "pack"}],
    }
    staged = run_pipeline_with_source(spark, spec, "src", conv)
    b = staged["bpe"].collect()[0]
    assert len(b.tokens) == len(b.loss_mask)
    # 'ok' merges to one supervised subtoken inside the assistant turn
    assert "ok" in b.tokens and "hi" in b.tokens
    packed = staged["pack"].collect()[0]
    assert packed.n_supervised == b.n_supervised

    bad = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "mask", "plugin": "LossMask", "properties": {}},
            {"name": "bpe", "plugin": "BpeLossMask", "properties": {}},
        ],
        "connections": [{"from": "src", "to": "mask"},
                        {"from": "mask", "to": "bpe"}],
    }
    with pytest.raises(ValidationError, match="mergesPath"):
        run_pipeline_with_source(spark, bad, "src", conv)


def test_kto_labels_and_epoch_shuffle_stages(spark):
    """KtoLabels + EpochShuffle plugins: spec-driven unpaired
    preference labeling and the between-epoch reshuffle, with
    property validation."""
    import pytest

    from topn_spark.errors import ValidationError
    from topn_spark.pipelines import run_pipeline_with_source

    samples = spark.createDataFrame(
        [(1, 0, 1.0), (1, 1, 9.0), (2, 0, None)],
        "prompt_id long, sample_id long, score double",
    )
    spec = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "kto", "plugin": "KtoLabels",
             "properties": {"threshold": "5"}},
        ],
        "connections": [{"from": "src", "to": "kto"}],
    }
    out = run_pipeline_with_source(spark, spec, "src", samples)["kto"]
    rows = {r.sample_id: r for r in out.collect() if r.prompt_id == 1}
    assert rows[0].label is False and rows[1].label is True

    bad = dict(spec)
    bad["stages"] = [
        spec["stages"][0],
        {"name": "kto", "plugin": "KtoLabels",
         "properties": {"threshold": "high"}},
    ]
    with pytest.raises(ValidationError, match="threshold"):
        run_pipeline_with_source(spark, bad, "src", samples)

    docs = spark.range(50).withColumnRenamed("id", "doc_id")
    sh_spec = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "shuf", "plugin": "EpochShuffle",
             "properties": {"epoch": "2", "numShards": "4"}},
        ],
        "connections": [{"from": "src", "to": "shuf"}],
    }
    shuf = run_pipeline_with_source(spark, sh_spec, "src", docs)["shuf"]
    got = shuf.collect()
    assert len(got) == 50 and all(r.epoch == 2 for r in got)
    assert {r.shard for r in got} == {0, 1, 2, 3}

    missing = dict(sh_spec)
    missing["stages"] = [
        sh_spec["stages"][0],
        {"name": "shuf", "plugin": "EpochShuffle",
         "properties": {"numShards": "0"}},
    ]
    with pytest.raises(ValidationError) as ei:
        run_pipeline_with_source(spark, missing, "src", docs)
    msg = str(ei.value)
    assert "epoch" in msg and "numShards" in msg


def test_truncate_json_canonical_stages(spark):
    """TruncateConversation + JsonOutputQc + CanonicalUrl plugins:
    property validation and the keepOnly drop mode."""
    import pytest

    from topn_spark.errors import ValidationError
    from topn_spark.pipelines import run_pipeline_with_source

    conv = spark.createDataFrame(
        [(1, [("system", "ssssssss"), ("user", "aaaa"),
              ("assistant", "bbbb")])],
        "conv_id long,"
        " messages array<struct<role:string,content:string>>",
    )
    spec = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "fit", "plugin": "TruncateConversation",
             "properties": {"maxChars": "12"}},
        ],
        "connections": [{"from": "src", "to": "fit"}],
    }
    [row] = run_pipeline_with_source(spark, spec, "src", conv)["fit"].collect()
    assert [m.role for m in row.messages_fit] == ["system", "assistant"]

    bad = dict(spec)
    bad["stages"] = [spec["stages"][0],
                     {"name": "fit", "plugin": "TruncateConversation",
                      "properties": {"maxChars": "-3"}}]
    with pytest.raises(ValidationError, match="maxChars"):
        run_pipeline_with_source(spark, bad, "src", conv)

    js = spark.createDataFrame(
        [(1, '{"a": 1}'), (2, "broken {")],
        "id long, response string",
    )
    js_spec = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "qc", "plugin": "JsonOutputQc",
             "properties": {"requiredKeys": "a",
                            "keepOnly": "true"}},
        ],
        "connections": [{"from": "src", "to": "qc"}],
    }
    kept = run_pipeline_with_source(spark, js_spec, "src", js)["qc"]
    assert [r.id for r in kept.collect()] == [1]
    assert kept.columns == js.columns  # keepOnly strips the flags

    urls = spark.createDataFrame(
        [(1, "http://A.com/x/?utm_source=s")], "id long, url string"
    )
    cu_spec = {
        "stages": [
            {"name": "src", "plugin": "File",
             "properties": {"path": "x"}},
            {"name": "canon", "plugin": "CanonicalUrl",
             "properties": {}},
        ],
        "connections": [{"from": "src", "to": "canon"}],
    }
    [u] = run_pipeline_with_source(spark, cu_spec, "src", urls)["canon"].collect()
    assert u.canonical_url == "http://a.com/x"


def test_cli_verify_bin_shards_layout_dispatch(spark, tmp_path):
    """verify-bin-shards dispatches on the recorded layout: a clean
    standard set and a clean preference set both exit 0; tearing a
    preference shard's pairing (or any byte) exits 1."""
    import os

    from topn_spark.__main__ import main
    from topn_spark.operators.binshard import (
        export_bin_shards,
        export_preference_shards,
    )

    std = str(tmp_path / "cli_std")
    export_bin_shards(
        spark.createDataFrame(
            [(i, [1 + i % 4, 2], [True, False]) for i in range(12)],
            "seq_id bigint, tokens array<bigint>,"
            " loss_mask array<boolean>",
        ),
        std, 2,
    )
    assert main(["verify-bin-shards", std]) == 0

    pref = str(tmp_path / "cli_pref")
    export_preference_shards(
        spark.createDataFrame(
            [
                (i, [1, 2], [False, True], [3], [True])
                for i in range(8)
            ],
            "pair_id bigint, chosen_tokens array<bigint>,"
            " chosen_mask array<boolean>,"
            " rejected_tokens array<bigint>,"
            " rejected_mask array<boolean>",
        ),
        pref, 2,
    )
    assert main(["verify-bin-shards", pref]) == 0
    victim = os.path.join(pref, "shard_00000.bin")
    raw = open(victim, "rb").read()
    open(victim, "wb").write(raw[:-2])
    assert main(["verify-bin-shards", pref]) == 1


def test_bin_shard_sink_range_sharding_property(spark, tmp_path):
    """BinShardSink seqsPerShard selects range sharding (nShards
    not needed); the exported shards are contiguous id ranges."""
    from topn_spark.operators.binshard import (
        _read_meta,
        read_bin_shards,
    )
    from topn_spark.pipelines import run_pipeline

    src = str(tmp_path / "rs_src")
    spark.createDataFrame(
        [(i, [1 + i % 3], [True]) for i in range(25)],
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>",
    ).write.parquet(src)
    out = str(tmp_path / "rs_out")
    run_pipeline(
        spark,
        {
            "stages": [
                {
                    "name": "in",
                    "type": "batchsource",
                    "plugin": "File",
                    "properties": {"path": src},
                },
                {
                    "name": "sink",
                    "type": "batchsink",
                    "plugin": "BinShardSink",
                    "properties": {
                        "path": out,
                        "seqsPerShard": "10",
                    },
                },
            ],
            "connections": [{"from": "in", "to": "sink"}],
        },
    )
    assert _read_meta(spark, out)["shard_scheme"] == "range:10"
    assert read_bin_shards(spark, out).count() == 25


def test_cli_bin_data_card_and_object_root(spark, tmp_path, capsys):
    """bin-data-card prints the card; --object-root drives both
    CLI commands through the object-store backend."""
    from topn_spark.__main__ import main
    from topn_spark.operators.binfs import ObjectStoreBinaryStore
    from topn_spark.operators.binshard import export_bin_shards

    df = spark.createDataFrame(
        [(i, [1 + i % 4], [True]) for i in range(9)],
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>",
    )
    root = str(tmp_path / "cli_bucket")
    st = ObjectStoreBinaryStore(root)
    export_bin_shards(df, "b/corpus", 2, store=st)
    assert main(
        ["verify-bin-shards", "b/corpus", "--object-root", root]
    ) == 0
    assert main(
        ["bin-data-card", "b/corpus", "--object-root", root]
    ) == 0
    out = capsys.readouterr().out
    assert "n_seqs: 9" in out and "layout: seq" in out


def test_streaming_spec_bin_export_maintenance(spark, tmp_path):
    """BinExportSink under run_streaming_pipeline: each micro-batch
    replays the stage with ${batchId} bound to the streaming batch
    id, so the shard set ACCUMULATES across drains (a plain
    BinShardSink would overwrite it with each batch's rows) and a
    re-drain with no new files changes nothing."""
    from topn_spark.operators.binshard import (
        _read_meta,
        read_bin_shards,
    )
    from topn_spark.pipelines import run_streaming_pipeline

    src = str(tmp_path / "sb_src")
    corpus = str(tmp_path / "sb_store")
    out = str(tmp_path / "sb_out")
    ck = str(tmp_path / "sb_ck")
    schema = (
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>"
    )
    spec = {
        "stages": [
            {
                "name": "in",
                "type": "batchsource",
                "plugin": "File",
                "properties": {"path": src, "schema": schema},
            },
            {
                "name": "maintain",
                "type": "batchsink",
                "plugin": "BinExportSink",
                "properties": {
                    "corpusPath": corpus,
                    "path": out,
                    "seqsPerShard": "10",
                    "batchId": "${batchId}",
                    "epochs": "0",
                },
            },
        ],
        "connections": [{"from": "in", "to": "maintain"}],
    }

    def drain():
        q = run_streaming_pipeline(spark, spec, ck)
        q.awaitTermination(180)

    for lo, hi in [(0, 14), (14, 23)]:
        spark.createDataFrame(
            [(i, [1 + i % 6], [True]) for i in range(lo, hi)],
            schema,
        ).write.mode("append").parquet(src)
        drain()
    back = read_bin_shards(spark, out)
    assert sorted(
        r.seq_id for r in back.select("seq_id").collect()
    ) == list(range(23))
    meta = _read_meta(spark, out)
    assert meta["shard_scheme"] == "range:10"
    v = meta["export_version"]
    # epochs re-derived at the current version
    from topn_spark.operators.binshard import read_bin_window

    assert read_bin_window(spark, out, 0, 0, 23).count() == 23
    drain()  # no new files: nothing changes
    assert _read_meta(spark, out)["export_version"] == v
