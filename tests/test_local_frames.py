"""Driver rows become a DataFrame one way: ``plans.local_frame``.

A frame built from a Python list is a Python RDD cut into
``defaultParallelism`` slices, so every job over it costs one task per
configured core, and a ``.orderBy`` on it adds a range-exchange job.
An Arrow-built frame is a ``LocalTableScan``: collecting it runs no
Spark job and keeps the driver's row order. These tests pin that
every driver-sized result is built that way, that empty inputs keep
their schemas, and that the driver sorts give Spark's order.

Fixtures are pandas-built (Arrow) for the same reason.
"""

from __future__ import annotations

import ast
import pathlib
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

PKG = pathlib.Path(__file__).resolve().parent.parent / "topn_spark"


def _calls(method: str) -> list[str]:
    """``path:line in <function>`` for every ``.<method>(`` call in
    the package, naming the innermost enclosing function."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG.parent)

        def visit(node, fn):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = node.name
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == method
            ):
                found.append(f"{rel}:{node.lineno} in {fn}")
            for child in ast.iter_child_nodes(node):
                visit(child, fn)

        visit(ast.parse(path.read_text()), None)
    return found


def test_driver_rows_reach_spark_through_one_helper():
    """``createDataFrame`` appears only in ``local_frame`` (driver
    rows) and ``_rows_df`` (the one-task-per-shard work list), and
    ``parallelize`` only in ``_rows_df``."""
    made = [
        c for c in _calls("createDataFrame")
        if not c.endswith((" in local_frame", " in _rows_df"))
    ]
    assert made == []
    spread = [
        c for c in _calls("parallelize")
        if not c.endswith(" in _rows_df")
    ]
    assert spread == []


def _collect(spark, df):
    """Collect ``df`` under a fresh job group: ``(rows, n_jobs,
    executed plan)``."""
    sc = spark.sparkContext
    group = f"local-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    return rows, len(sc.statusTracker().getJobIdsForGroup(group)), plan


def _assert_local(spark, df):
    rows, n_jobs, plan = _collect(spark, df)
    assert "ExistingRDD" not in plan, plan
    assert n_jobs == 0
    return rows


def _matrix(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["model_a", "model_b", "wins_a", "wins_b", "ties"]
        ),
        "model_a string, model_b string, wins_a double, wins_b double,"
        " ties double",
    )


# d beats everyone; a, b and c split evenly: three tied ratings
_TIED = [
    ("a", "b", 3.0, 3.0, 0.0),
    ("a", "c", 3.0, 3.0, 0.0),
    ("b", "c", 3.0, 3.0, 0.0),
    ("a", "d", 1.0, 5.0, 0.0),
    ("b", "d", 1.0, 5.0, 0.0),
    ("c", "d", 1.0, 5.0, 0.0),
]


def _samples(spark):
    """Per-prompt scored responses of three models: mA scores above
    both others, mB and mC split their prompts, and response lengths
    vary by prompt."""
    rows = []
    for p in range(24):
        rows.append((p, "mA", 3.0 + (p % 3), "x" * (10 + p % 7)))
        rows.append((p, "mB", 1.0 + (p % 2), "x" * (12 + p % 5)))
        rows.append((p, "mC", 1.5 - (p % 3 == 0), "x" * (11 + p % 4)))
    return spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["prompt_id", "model", "score", "response"]
        ),
        "prompt_id long, model string, score double, response string",
    )


def _rating_order(df):
    return df.orderBy(F.col("rating").desc(), F.col("model").asc())


def test_bradley_terry_fit_is_local_in_spark_order_with_ties(spark):
    from topn_spark.operators.sft import bradley_terry_fit

    out = bradley_terry_fit(_matrix(spark, _TIED))
    rows = _assert_local(spark, out)
    assert rows == _rating_order(out).collect()
    assert [r.model for r in rows] == ["d", "a", "b", "c"]
    assert rows[1].rating == rows[2].rating == rows[3].rating


def test_bootstraps_are_local_in_spark_order(spark):
    from topn_spark.operators.sft import (
        bradley_terry_bootstrap,
        bradley_terry_matrix_bootstrap,
    )

    for out in (
        bradley_terry_bootstrap(_samples(spark), n_boot=8),
        bradley_terry_matrix_bootstrap(_matrix(spark, _TIED), n_boot=8),
    ):
        rows = _assert_local(spark, out)
        assert len(rows) >= 3
        assert rows == _rating_order(out).collect()


def test_length_controlled_winrate_driver_branch_is_local(spark):
    from topn_spark.operators.sft import length_controlled_winrate

    out = length_controlled_winrate(_samples(spark))
    rows = _assert_local(spark, out)
    assert [(r.model_a, r.model_b) for r in rows] == [
        ("mA", "mB"), ("mA", "mC"), ("mB", "mC"),
    ]
    assert rows == out.orderBy("model_a", "model_b").collect()


def test_small_results_are_local(spark):
    from topn_spark.operators.graph import triangle_count
    from topn_spark.operators.similarity import embedding_covariance
    from topn_spark.operators.textstats import cms_token_counts

    edges = spark.createDataFrame(
        pd.DataFrame({"src": [1, 2, 3, 3], "dst": [2, 3, 1, 4]}),
        "src long, dst long",
    )
    [tri] = _assert_local(spark, triangle_count(edges))
    assert tuple(tri) == (4, 4, 1)
    emb = spark.createDataFrame(
        pd.DataFrame({"embedding": [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]]}),
        "embedding array<double>",
    )
    cov = _assert_local(spark, embedding_covariance(emb))
    assert [(r.i, r.j) for r in cov] == [(0, 0), (0, 1), (1, 0), (1, 1)]
    docs = spark.createDataFrame(
        pd.DataFrame({"text": ["a b a", "b c"]}), "text string"
    )
    ests = _assert_local(spark, cms_token_counts(docs, ["a", "c", "z"]))
    assert [(r.term, r.est) for r in ests] == [("a", 2), ("c", 1), ("z", 0)]


def test_export_epoch_order_is_local_in_shard_order(spark, tmp_path):
    from topn_spark.operators.binshard import (
        export_bin_shards,
        export_epoch_order,
    )

    out = str(tmp_path / "ep")
    toks = [[i % 9 + 1] * (1 + i % 4) for i in range(30)]
    seqs = spark.createDataFrame(
        pd.DataFrame(
            {"seq_id": list(range(30)), "tokens": toks,
             "loss_mask": [[True] * len(t) for t in toks]}
        ),
        "seq_id bigint, tokens array<bigint>, loss_mask array<boolean>",
    )
    export_bin_shards(seqs, out, 5)
    man = export_epoch_order(spark, out, 0, salt="s")
    rows = _assert_local(spark, man)
    assert [r.shard for r in rows] == [0, 1, 2, 3, 4]
    assert rows == man.orderBy("shard").collect()


def test_gate_report_is_local_in_status_reason_order(spark, tmp_path):
    from topn_spark.streaming.ingest import gate_report

    out, rej = str(tmp_path / "out"), str(tmp_path / "rej")
    spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2]}), "doc_id long"
    ).write.parquet(out)
    spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [3, 4, 5, 6, 7],
                "reason": ["toxic", None, "dup", "toxic", "dup"],
            }
        ),
        "doc_id long, reason string",
    ).write.parquet(rej)
    report = gate_report(spark, out, rej)
    rows = _assert_local(spark, report)
    assert [tuple(r) for r in rows] == [
        ("admitted", None, 2),
        ("rejected", None, 1),
        ("rejected", "dup", 2),
        ("rejected", "toxic", 2),
    ]
    assert rows == report.orderBy("status", "reason").collect()
    # nothing written yet: one admitted row of zero, still local
    empty = gate_report(spark, str(tmp_path / "no"), str(tmp_path / "ne"))
    assert [tuple(r) for r in _assert_local(spark, empty)] == [
        ("admitted", None, 0)
    ]


def test_empty_inputs_keep_their_schemas(spark):
    from topn_spark.operators.sft import (
        bradley_terry_fit,
        bradley_terry_matrix_bootstrap,
        length_controlled_winrate,
    )
    from topn_spark.operators.similarity import embedding_covariance

    no_matrix = _matrix(spark, _TIED).where("wins_a < 0")
    no_samples = _samples(spark).where("score IS NULL")
    no_vecs = spark.createDataFrame(
        pd.DataFrame({"embedding": [[1.0]]}), "embedding array<double>"
    ).where("size(embedding) = 0")
    for out, ddl in (
        (
            bradley_terry_fit(no_matrix),
            "model string, strength double, rating double,"
            " wins_eff double, n_games double, n_iter int,"
            " converged boolean",
        ),
        (
            bradley_terry_matrix_bootstrap(no_matrix, n_boot=4),
            "model string, strength double, rating double,"
            " rating_lo double, rating_hi double, n_games double,"
            " n_boot int",
        ),
        (
            length_controlled_winrate(no_samples),
            "model_a string, model_b string, n_pairs bigint,"
            " n_ties bigint, raw_winrate_a double,"
            " lc_winrate_a double, beta_len double,"
            " n_iter int, converged boolean",
        ),
        (embedding_covariance(no_vecs), "i int, j int, cov double"),
    ):
        assert _assert_local(spark, out) == []
        assert out.schema == T.StructType.fromDDL(ddl)


@pytest.mark.parametrize(
    "rows",
    [
        [],
        [("b", 1.0), ("a", float("nan")), ("c", None)],
    ],
)
def test_local_frame_keeps_rows_order_and_schema(spark, rows):
    from topn_spark.plans import local_frame

    df = local_frame(spark, rows, "k string, v double")
    got = _assert_local(spark, df)
    assert df.schema.simpleString() == "struct<k:string,v:double>"
    assert [r.k for r in got] == [k for k, _ in rows]
    assert [r.v is None for r in got] == [v is None for _, v in rows]
