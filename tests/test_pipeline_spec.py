"""Declarative pipeline compiler: validation errors, lazy
composition (optimizer sees through spec boundaries), op coverage."""

from __future__ import annotations

import contextlib
import io

import pytest

from setup_harvest_action_spark.plans.pipeline import (
    DEMO_SPEC,
    run_pipeline,
)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_cycle_is_rejected_before_any_job(spark):
    spec = {
        "datasets": {
            "a": {"op": "filter", "input": "b", "where": "1 = 1"},
            "b": {"op": "distinct", "input": "a"},
        },
        "output": "a",
    }
    with pytest.raises(ValueError, match="cycle"):
        run_pipeline(spark, spec)


def test_missing_dataset_and_unknown_op_are_loud(spark):
    with pytest.raises(ValueError, match="not defined"):
        run_pipeline(
            spark,
            {"datasets": {"a": {"op": "distinct", "input": "ghost"}},
             "output": "a"},
        )
    with pytest.raises(ValueError, match="unknown op"):
        run_pipeline(
            spark,
            {"datasets": {"a": {"op": "teleport"}}, "output": "a"},
        )


def test_filter_pushdown_survives_the_spec_boundary(spark, sf_dir):
    """The whole point of lazy compilation: a filter declared as its
    own dataset must still reach the parquet scan of the upstream
    table dataset as a pushed filter."""
    plan = _plan(run_pipeline(spark, DEMO_SPEC, sf_dir))
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(n_chars,120)" in plan
    # diamond: the tree shows exactly the two branch scans of the one
    # documents table (exchange reuse merges them at runtime via AQE)
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 2


def test_spec_matches_handwritten_dataframe(spark, sf_dir):
    import pyspark.sql.functions as F

    from setup_harvest_action_spark.io.loaders import load_table

    got = sorted(
        tuple(r)
        for r in run_pipeline(spark, DEMO_SPEC, sf_dir).collect()
    )
    docs = load_table(spark, sf_dir, "documents").filter("n_chars >= 120")
    toks = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    by_source = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(toks), 4).alias("avg_tokens"),
    )
    by_lang = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("lang_docs"))
    want = sorted(
        tuple(r)
        for r in by_source.join(by_lang, "lang")
        .select(
            "lang", "source", "n_docs", "avg_tokens",
            F.round(F.col("n_docs") / F.col("lang_docs"), 6).alias(
                "source_share"
            ),
        )
        .collect()
    )
    assert got == want


def test_union_distinct_order_limit_ops(spark, sf_dir):
    spec = {
        "datasets": {
            "n": {"op": "table", "name": "nation"},
            "a": {"op": "select", "input": "n",
                  "columns": {"k": "n_nationkey", "r": "n_regionkey"}},
            "b": {"op": "filter", "input": "a", "where": "r = 0"},
            "u": {"op": "union", "inputs": ["a", "b"]},
            "d": {"op": "distinct", "input": "u"},
            "top": {"op": "order_limit", "input": "d",
                    "order_by": ["k desc"], "limit": 3},
        },
        "output": "top",
    }
    rows = run_pipeline(spark, spec, sf_dir).collect()
    assert [r.k for r in rows] == [24, 23, 22]


@pytest.mark.usefixtures("restore_spark_conf")
def test_pipeline_cli_runs_spec_file(spark, tmp_path, capsys):
    import json

    from setup_harvest_action_spark.cli import main

    spec = {
        "datasets": {
            "n": {"op": "table", "name": "region"},
            "c": {"op": "aggregate", "input": "n",
                  "aggs": {"n_regions": "count(*)"}},
        },
        "output": "c",
    }
    f = tmp_path / "spec.json"
    f.write_text(json.dumps(spec))
    assert main(["pipeline", str(f)]) == 0
    assert "(5,)" in capsys.readouterr().out
    # a broken spec exits through the Invalid-input taxonomy
    f.write_text(json.dumps({"datasets": {}, "output": "ghost"}))
    assert main(["pipeline", str(f)]) == 1
    assert "Invalid input" in capsys.readouterr().out


def test_query_op_composes_over_the_catalog(spark, sf_dir):
    """Any registered catalog query is a valid pipeline dataset — the
    spec layer composes over the whole operator surface, not just raw
    tables."""
    spec = {
        "datasets": {
            "quality": {"op": "query", "name": "q_text_quality"},
            "gated": {"op": "filter", "input": "quality",
                      "where": "passes_length_gate"},
            "summary": {"op": "aggregate", "input": "gated",
                        "aggs": {"n_pass": "count(*)"}},
        },
        "output": "summary",
    }
    n_pass = run_pipeline(spark, spec, sf_dir).collect()[0].n_pass
    assert n_pass > 0
    with pytest.raises(ValueError, match="no catalog query"):
        run_pipeline(
            spark,
            {"datasets": {"x": {"op": "query", "name": "q_ghost"}},
             "output": "x"},
            sf_dir,
        )


def test_corpus_hygiene_ops_compose_in_spec(spark):
    """The r11 export stages as declarable datasets: a JSON spec runs
    decontaminate (drop mode) -> redact_pii -> scrub_substrings as ONE
    lazy plan, matching the hand-composed stage calls exactly."""
    import pyspark.sql.functions as F

    boiler = "SHARED LICENSE HEADER " * 3
    corpus = spark.createDataFrame(
        [
            (0, "clean words then alpha beta gamma delta epsilon end"),
            (1, "write to me at someone@example.com for the data"),
            (2, boiler + "unique tail two two two two two two"),
            (3, boiler + "other tail three three three three"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(1000, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    corpus.createOrReplaceTempView("hyg_corpus")
    bench.createOrReplaceTempView("hyg_bench")
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        corpus.write.parquet(f"{d}/corpus")
        bench.write.parquet(f"{d}/bench")
        spec = {
            "datasets": {
                "corpus": {"op": "parquet", "path": f"{d}/corpus"},
                "bench": {"op": "parquet", "path": f"{d}/bench"},
                "screened": {
                    "op": "decontaminate",
                    "inputs": ["corpus", "bench"],
                },
                "redacted": {"op": "redact_pii", "input": "screened"},
                "clean": {"op": "scrub_substrings", "input": "redacted"},
            },
            "output": "clean",
        }
        out = {r["doc_id"]: r["text"] for r in run_pipeline(spark, spec).collect()}
    assert set(out) == {1, 2, 3}  # doc 0 dropped by the screen
    assert "[EMAIL]" in out[1]
    assert all("SHARED LICENSE HEADER" not in t for t in out.values())
    assert "unique tail" in out[2] and "other tail" in out[3]

    # flags mode returns the screen report instead of dropping
    flags_spec = {
        "datasets": {
            "corpus": {"op": "parquet", "path": "__unused__"},
        },
        "output": "corpus",
    }
    del flags_spec  # (drop mode is the composition test; flags mode:)
    from setup_harvest_action_spark.plans.pipeline import _compile

    flags = _compile(
        "f",
        {"op": "decontaminate", "inputs": ["c", "b"], "mode": "flags"},
        {"c": corpus, "b": bench},
        spark,
        None,
    )
    rows = {r["doc_id"]: r["shared_grams"] for r in flags.collect()}
    assert set(rows) == {0} and rows[0] >= 1
