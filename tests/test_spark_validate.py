"""Spark UDF path must agree exactly with the in-process guard on the
golden corpus (SURVEY.md §5.2 step 2), and the per-partition error summary
must account for every error."""

import json
from pathlib import Path

import pytest

from cypher_guard_spark.guard import DbSchema

pyspark = pytest.importorskip("pyspark")

GOLDEN = json.loads((Path(__file__).parent / "golden/verdicts.json").read_text())
EVAL_SCHEMA_PATH = Path(__file__).parent / "golden/eval_schema.json"


@pytest.fixture(scope="session")
def spark():
    from cypher_guard_spark.spark import build_session

    spark = build_session("guard-tests", cores=2, shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="module")
def eval_schema():
    return DbSchema.from_dict(json.loads(EVAL_SCHEMA_PATH.read_text()))


@pytest.fixture(scope="module")
def unit_schema():
    return DbSchema.from_dict(
        json.loads((Path(__file__).parent / "golden/unit_schema.json").read_text())
    )


def test_udf_matches_golden_corpus(spark, eval_schema, unit_schema):
    from cypher_guard_spark.spark import validate_dataframe

    rows = []
    for kind, schema in (("eval", eval_schema), ("unit", unit_schema)):
        subset = [e for e in GOLDEN if e.get("schema", "eval") == kind]
        df = spark.createDataFrame(
            [(e["query_id"], e["cypher"]) for e in subset], ["query_id", "cypher"]
        ).repartition(4)
        rows.extend(validate_dataframe(spark, df, schema).collect())
    got = {r["query_id"]: r for r in rows}
    assert len(got) == len(GOLDEN)
    for e in GOLDEN:
        r = got[e["query_id"]]
        assert r["is_valid"] == e["has_valid_cypher"], e["query_id"]
        assert r["syntax_ok"] == e["parse_ok"], e["query_id"]
        if e["parse_ok"]:
            assert sorted(err["message"] for err in r["errors"]) == e["error_messages"]
        else:
            assert r["errors"][0]["code"] == e["exception_class"]


def test_partition_error_summary(spark, eval_schema):
    from cypher_guard_spark.spark import partition_error_summary, validate_dataframe

    corpus = [e for e in GOLDEN if e.get("schema", "eval") == "eval"]
    df = spark.createDataFrame([(e["cypher"],) for e in corpus], ["cypher"]).repartition(4)
    validated = validate_dataframe(spark, df, eval_schema)
    summary = partition_error_summary(validated).collect()
    total_errors = sum(r["n"] for r in summary if r["error_code"] is not None)
    expected = sum(
        len(e["error_messages"]) if e["parse_ok"] else 1
        for e in corpus
        if not e["has_valid_cypher"]
    )
    assert total_errors == expected


def test_udf_plan_is_single_arrow_stage(spark, eval_schema):
    """No shuffle in the validation plan — ArrowEvalPython over the scan."""
    from cypher_guard_spark.spark import validate_dataframe

    df = spark.createDataFrame([("MATCH (p:Person) RETURN p.firstName",)], ["cypher"])
    plan = validate_dataframe(spark, df, eval_schema)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "Exchange" not in plan
