#!/usr/bin/env python
"""Freeze the golden verdict corpus → tests/golden/verdicts.json.

Corpus = the reference's own eval query texts (data/queries/valid/*.yml,
vendored as *data* per FIXTURES.md F4) evaluated against the eval schema
(tests/golden/eval_schema.json, reconstructed per FIXTURES.md F7) + the
quirk queries from SURVEY.md §2.6 (eval schema) + the reference unit-test
queries from
tests/golden/reference_expectations.json, evaluated against the reference
unit-test schema (tests/golden/unit_schema.json = test_validation.py:4-50).
Each entry records its ``source`` (eval|quirk|unittest) and ``schema``
(eval|unit). The unittest subset is the anti-circularity anchor: its
expected verdicts are asserted by the REFERENCE'S OWN tests and
cross-checked by tests/test_reference_expectations.py.

Verdicts are produced by our implementation; parity with the Rust code is
anchored by the hand-traced characterization/quirk suites (the Rust
toolchain cannot fetch crates in this sandbox, so the binary itself can't
be executed here). Fields per entry:
  query_id, cypher, has_valid_cypher, parse_ok, exception_class,
  error_messages (sorted).

Eval-harness parity note (eval/rust/src/main.rs:213): expected verdict in
the reference comes from the directory name; its README admits many
"valid/" entries actually fail the parser. We freeze the *computed*
verdicts, which is what parity means.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import yaml  # noqa: E402

from cypher_guard_spark.guard import DbSchema, api  # noqa: E402
from cypher_guard_spark.guard.errors import ParsingError  # noqa: E402

REFERENCE = Path("/root/reference")


def eval_schema() -> DbSchema:
    data = json.loads((REPO / "tests/golden/eval_schema.json").read_text())
    return DbSchema.from_dict(data)


def quirk_queries():
    """SURVEY.md §2.6 — each quirk gets corpus entries."""
    return [
        ("quirk_q1_lte", "MATCH (a:Person) WHERE a.age <= 30 RETURN a.firstName"),
        ("quirk_q1_gte", "MATCH (a:Person) WHERE a.age >= 30 RETURN a.firstName"),
        ("quirk_q1_eqeq", "MATCH (a:Person) WHERE a.age == 30 RETURN a.firstName"),
        ("quirk_q1_lt_ok", "MATCH (a:Person) WHERE a.age < 30 RETURN a.firstName"),
        ("quirk_q2_lower_match", "match (p:Person) RETURN p.firstName"),
        ("quirk_q2_lower_return", "MATCH (p:Person) return p.firstName"),
        ("quirk_q2_lower_merge", "merge (p:Person {firstName: 'John'})"),
        ("quirk_q3_unlabeled_direction", "MATCH (a)-[:WORKS_FOR]-(b) RETURN a.firstName"),
        ("quirk_q4_reversed_direction",
         "MATCH (c:Company)<-[:WORKS_FOR]-(p:Person) RETURN p.firstName"),
        ("quirk_q4_wrong_direction",
         "MATCH (c:Company)-[:WORKS_FOR]->(p:Person) RETURN p.firstName"),
        ("quirk_q5_global_access",
         "MATCH (p:Person)-[r:WORKS_FOR]->(c:Company) RETURN p.companyName"),
        ("quirk_q6_return_alias", "MATCH (p:Person) RETURN p.firstName AS name"),
        ("quirk_q6_bare_count", "MATCH (p:Person) RETURN count(p)"),
        ("quirk_q6_count_alias", "MATCH (p:Person) RETURN count(p) AS total"),
        ("quirk_q7_with_no_return", "MATCH (p:Person) WITH p"),
        ("quirk_q8_with_after_return", "MATCH (p:Person) RETURN p WITH p"),
        ("quirk_q9_subquery_order", "CALL { RETURN a MATCH (a:Person) } RETURN a"),
        ("quirk_q10_bool_in_map", "MATCH (p:Person {active: true}) RETURN p.firstName"),
        ("quirk_q10_bool_in_set",
         "MERGE (p:Person {firstName: 'John'}) ON CREATE SET p.active = true"),
        ("quirk_q12_order_by", "MATCH (p:Person) RETURN p.firstName ORDER BY p.firstName"),
        ("quirk_q12_limit", "MATCH (p:Person) RETURN p.firstName LIMIT 10"),
        ("quirk_q12_delete", "MATCH (p:Person) DELETE p"),
        ("quirk_q12_multilabel", "MATCH (p:Person:Employee) RETURN p.firstName"),
        ("quirk_merge_on_create_on_match",
         "MERGE (p:Person {firstName: 'John'}) "
         "ON CREATE SET p.email = 'j@example.com' ON MATCH SET p.age = 31"),
        ("quirk_create_after_return", "MATCH (p:Person) RETURN p CREATE (c:Company)"),
        ("quirk_unwind_then_match", "UNWIND [1] AS x MATCH (p:Person) RETURN p.firstName"),
        ("quirk_undefined_var", "MATCH (p:Person) RETURN q.firstName"),
        ("quirk_vlr", "MATCH (a:Person)-[:KNOWS*1..3]->(b:Person) RETURN a.firstName"),
        ("quirk_qpp",
         "MATCH ((a:Person)-[:KNOWS]->(b:Person)){1,3} RETURN a.firstName"),
        ("quirk_param_set",
         "MERGE (p:Person {firstName: 'John'}) ON CREATE SET p.age = $age"),
        ("quirk_call_proc", "CALL db.labels() YIELD label RETURN label"),
    ]


def corpus_entries():
    """(query_id, cypher, source, schema_kind) tuples."""
    entries = []
    for yml in sorted((REFERENCE / "data/queries/valid").glob("*.yml")):
        data = yaml.safe_load(yml.read_text())
        for q in data.get("queries") or []:
            cypher = (q.get("cypher") or "").strip()
            if not cypher:
                continue
            entries.append((f"{yml.stem}/{q['name']}", cypher, "eval", "eval"))
    entries.extend((qid, c, "quirk", "eval") for qid, c in quirk_queries())
    seen = set()
    for e in json.loads(
        (REPO / "tests/golden/reference_expectations.json").read_text()
    ):
        if e["cypher"] in seen:
            continue
        seen.add(e["cypher"])
        entries.append((e["id"], e["cypher"], "unittest", "unit"))
    return entries


def verdict(cypher: str, schema: DbSchema) -> dict:
    ast, perr = api.parse_query_result(cypher)
    if perr is not None:
        return {
            "has_valid_cypher": False,
            "parse_ok": False,
            "exception_class": perr.code,
            "error_messages": ["Invalid Cypher syntax"],
            "is_write": None,  # reference is_write raises on parse failure
        }
    errors = api.get_cypher_validation_errors(cypher, schema)
    return {
        "has_valid_cypher": not errors,
        "parse_ok": True,
        "exception_class": None,
        "error_messages": sorted(errors),
        "is_write": api.is_write(cypher),
    }


def unit_schema() -> DbSchema:
    data = json.loads((REPO / "tests/golden/unit_schema.json").read_text())
    return DbSchema.from_dict(data)


def main():
    schemas = {"eval": eval_schema(), "unit": unit_schema()}
    out = []
    for query_id, cypher, source, schema_kind in corpus_entries():
        v = verdict(cypher, schemas[schema_kind])
        v["query_id"] = query_id
        v["cypher"] = cypher
        v["source"] = source
        v["schema"] = schema_kind
        out.append(v)
    dest = REPO / "tests/golden/verdicts.json"
    dest.write_text(json.dumps(out, indent=1))
    n_valid = sum(1 for v in out if v["has_valid_cypher"])
    n_parse = sum(1 for v in out if v["parse_ok"])
    print(f"{len(out)} queries → {dest}")
    print(f"parse_ok: {n_parse}, has_valid_cypher: {n_valid}")


if __name__ == "__main__":
    main()
