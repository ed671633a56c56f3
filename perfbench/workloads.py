"""The benchmark's workloads: seeded set-up, one measured pass, and the
checks that the pass's outputs are correct.

Each workload calls only the program's public functions. A pass returns
what the checks need; the checks run after the pass, outside its wall time.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
from collections import Counter
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import gen

HERE = Path(__file__).resolve().parent

PARQUET_FILES = 8  # input files per table: one scan split per task slot and more


def write_table(table: pa.Table, path: str, n_files: int = PARQUET_FILES) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def eval_schema():
    """The golden corpus's eval schema: the pipeline schema plus
    ``Company.employeeCount: INTEGER`` (reproduces all 318 frozen verdicts)."""
    from cypher_guard_spark.guard import DbSchema

    return DbSchema.from_dict(json.loads((HERE / "eval_schema.json").read_text()))


@contextlib.contextmanager
def patched(owner, attr: str, make_wrapper):
    """Temporarily replace ``owner.attr`` with ``make_wrapper(original)``."""
    original = getattr(owner, attr)
    setattr(owner, attr, make_wrapper(original))
    try:
        yield
    finally:
        setattr(owner, attr, original)


class Problems:
    """Operations attempted and failed, plus a readable reason per failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list = []

    def record(self, ok: bool, what: str, n: int = 1, bad: int | None = None) -> None:
        self.attempted += n
        if not ok:
            self.failed += n if bad is None else bad
            self.notes.append(what)


# ---------------------------------------------------------------------------
# kg_build: run_pipeline over a corpus whose vocabulary grows with its size
# ---------------------------------------------------------------------------

STAGES = ("triples_raw", "mentions", "link_stats", "entity_map", "triples", "merge_batches", "verdicts")


class KgBuild:
    """``run_pipeline`` with a checkpoint directory over an open-vocabulary
    corpus: every pipeline layer runs, and the entity-scaled ones
    (canonicalize, codegen, validate) see a vocabulary that grows with the
    corpus instead of a fixed lexicon."""

    name = "kg_build"
    n_docs = 1_500
    people_per_doc = 1 / 12
    companies_per_doc = 1 / 60
    cities_per_doc = 1 / 400

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self._pass = 0

    def make_inputs(self, path: str) -> None:
        n = self.n_docs
        self.vocab = gen.open_vocab(
            self.seed,
            int(n * self.people_per_doc),
            int(n * self.companies_per_doc),
            max(2, int(n * self.cities_per_doc)),
        )
        table, self.facts, self.surface_map = gen.corpus(self.seed, n, self.vocab)
        self.text_spans = sum(
            1 for spans in table.column("spans").to_pylist() for s in spans if s["kind"] == "text"
        )
        write_table(table, path)
        self.docs_path = path

    def describe(self) -> dict:
        return {
            "documents": self.n_docs,
            "text_spans": self.text_spans,
            "surfaces": len(self.surface_map),
            "entities": len({(k[0], v) for k, v in self.surface_map.items()}),
            "facts": len(self.facts),
        }

    def run_pass(self, tracer) -> dict:
        from cypher_guard_spark.pipeline import run_pipeline
        from cypher_guard_spark.pipeline.lineage import CheckpointManager

        self._pass += 1
        ckpt = os.path.join(self.work, f"ckpt-{self.seed}-{self._pass}")
        shutil.rmtree(ckpt, ignore_errors=True)
        docs = self.spark.read.parquet(self.docs_path)

        def wrap_stage(original):
            def stage(cm, name, compute, key_cols, materialize=True):
                with tracer.span(f"stage:{name}"):
                    return original(cm, name, compute, key_cols, materialize)

            return stage

        def wrap_lineage(original):
            def write_lineage(cm):
                with tracer.span("write_lineage"):
                    return original(cm)

            return write_lineage

        with contextlib.ExitStack() as stack:
            if tracer.enabled:
                stack.enter_context(patched(CheckpointManager, "stage", wrap_stage))
                stack.enter_context(patched(CheckpointManager, "write_lineage", wrap_lineage))
            t0 = time.perf_counter()
            with tracer.span("run_pipeline"):
                out = run_pipeline(self.spark, docs, checkpoint_dir=ckpt)
            wall = time.perf_counter() - t0
        return {"wall_s": wall, "rate": self.n_docs / wall, "ckpt": ckpt, "lineage": out["lineage"]}

    def check(self, result: dict, problems: Problems) -> dict:
        ckpt = result["ckpt"]
        con = duckdb.connect()
        try:
            facts = pa.table(
                dict(zip(("doc_id", "subj", "pred", "obj"), map(list, zip(*self.facts))))
            )
            con.register("facts", facts)
            got = f"read_parquet('{ckpt}/triples/*.parquet')"
            emitted, matched = con.execute(
                f"WITH e AS (SELECT DISTINCT doc_id, subj, pred, obj FROM {got}) "
                "SELECT (SELECT count(*) FROM e), "
                "(SELECT count(*) FROM e JOIN facts USING (doc_id, subj, pred, obj))"
            ).fetchone()
            precision = matched / emitted if emitted else 0.0
            recall = matched / len(self.facts)
            problems.record(
                precision >= 0.95 and recall >= 0.95,
                f"triple P/R {precision:.4f}/{recall:.4f} below 0.95",
            )

            emap = {
                (label, surface): (label, canonical)
                for label, surface, canonical in con.execute(
                    f"SELECT label, surface, canonical FROM read_parquet('{ckpt}/entity_map/*.parquet')"
                ).fetchall()
            }
            right = sum(1 for k, v in self.surface_map.items() if emap.get(k) == (k[0], v))
            planted = len({(k[0], v) for k, v in self.surface_map.items()})
            found = len(set(emap.values()))
            problems.record(
                right >= 0.95 * len(self.surface_map) and abs(found - planted) <= 0.05 * planted,
                f"entity map: {right}/{len(self.surface_map)} surfaces right, "
                f"{found} canonical entities for {planted} planted",
            )

            n_batches, n_invalid = con.execute(
                "SELECT count(*), count(*) FILTER (WHERE NOT is_valid) "
                f"FROM read_parquet('{ckpt}/verdicts/*.parquet')"
            ).fetchone()
            problems.record(n_invalid == 0, f"{n_invalid} invalid verdicts", n=n_batches, bad=n_invalid)
            n_stmts, n_distinct = con.execute(
                "WITH s AS (SELECT unnest(string_split(cypher, chr(10))) AS st "
                f"FROM read_parquet('{ckpt}/merge_batches/*.parquet')) "
                "SELECT count(*), count(DISTINCT st) FROM s"
            ).fetchone()
        finally:
            con.close()
        return {
            "precision": precision,
            "recall": recall,
            "surfaces_right": right / len(self.surface_map),
            "entities": found,
            "batches": n_batches,
            "statements": n_stmts,
            "distinct_statements": n_distinct,
        }

    def cleanup(self, result: dict) -> None:
        shutil.rmtree(result["ckpt"], ignore_errors=True)

    def layer_metrics(self, tracer, result: dict, checked: dict) -> dict:
        from cypher_guard_spark.pipeline.lineage import global_checksum

        m: dict = {}
        stage_spans = {s.name.split(":", 1)[1]: s for s in tracer.walk() if s.name.startswith("stage:")}
        root = tracer.find("run_pipeline")[0]
        for st in STAGES:
            m[f"lineage.{st}.wall_s"] = stage_spans[st].wall_s
        attributed = sum(stage_spans[st].wall_s for st in STAGES)
        fin = tracer.find("write_lineage")[0]
        m["lineage.finalize_s"] = fin.wall_s
        m["lineage.unattributed_s"] = root.wall_s - attributed - fin.wall_s
        m["lineage.jobs"] = fin.stats["jobs"]

        raw = stage_spans["triples_raw"].stats
        link = stage_spans["link_stats"].stats
        m["mentions.spans_in"] = self.text_spans
        m["mentions.triples_out"] = global_checksum(result["lineage"], "triples_raw")[0]
        m["mentions.udf_rows_per_span"] = raw["udf_rows"] / self.text_spans
        m["mentions.python_s"] = raw["python_s"]
        m["mentions.link_shuffle_bytes"] = link["shuffle_write_bytes"]
        m["mentions.link_task_skew"] = _skew(link)

        em = stage_spans["entity_map"]
        m["canonicalize.surfaces"] = global_checksum(result["lineage"], "link_stats")[0]
        m["canonicalize.entities"] = checked["entities"]
        m["canonicalize.entity_map_s"] = em.wall_s
        m["canonicalize.entity_map_jobs"] = em.stats["jobs"]
        m["canonicalize.triples_s"] = stage_spans["triples"].wall_s

        m["codegen.statements"] = checked["statements"]
        m["codegen.batches"] = checked["batches"]
        m["codegen.batch_fill"] = checked["statements"] / (checked["batches"] * 50)

        ver = stage_spans["verdicts"]
        m["validate_udf.statements"] = checked["statements"]
        m["validate_udf.wall_s"] = ver.wall_s
        m["validate_udf.python_s"] = ver.stats["python_s"]
        m["validate_udf.stmts_per_core_s"] = checked["statements"] / max(ver.stats["python_s"], 1e-9)
        m["validate_udf.distinct_ratio"] = checked["distinct_statements"] / checked["statements"]
        return m

    def error_histogram(self, result: dict) -> dict:
        from cypher_guard_spark.spark.validate_udf import partition_error_summary

        verdicts = self.spark.read.parquet(os.path.join(result["ckpt"], "verdicts"))
        return _histogram(partition_error_summary(verdicts))


def _skew(stats: dict) -> float:
    """Summed per-stage max task time over summed per-stage median task
    time: 1.0 is perfectly even, dominated by the heaviest stages."""
    return stats["task_max_s"] / stats["task_med_s"] if stats["task_med_s"] else 1.0


def _histogram(summary_df) -> dict:
    from pyspark.sql import functions as F

    rows = summary_df.groupBy("error_code").agg(F.sum("n").alias("n")).collect()
    # a statement without errors explodes to one row with a null code
    return {r["error_code"]: int(r["n"]) for r in rows if r["error_code"] is not None}


# ---------------------------------------------------------------------------
# kg_read: the consumer side — apply, gate, query, analyse
# ---------------------------------------------------------------------------

# the registry's executor query mix (``__spark_entry__._CYPHER_*_Q``); each
# name maps to its DuckDB twin ``_kg_cypher_<name>_sql``
QUERIES = ("match", "varlen", "coworkers")
KERNELS = ("louvain", "pagerank")


class KgRead:
    """The consumer side of a built KG: apply MERGE batches into a property
    graph, gate the golden Cypher corpus, answer the registry's query mix
    over the applied graph, and run two iterative graph kernels."""

    name = "kg_read"
    n_triples = 150
    golden_copies = 2
    extra_people = 60
    extra_companies = 25
    extra_cities = 6
    kernel_triples = 100
    louvain_iters = 1
    louvain_levels = 1
    pagerank_iters = 1

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self._twins: dict | None = None

    def make_inputs(self, path: str) -> None:
        import __spark_entry__ as entry

        closed = gen.closed_vocab()
        extra = gen.open_vocab(self.seed, self.extra_people, self.extra_companies, self.extra_cities)
        self.vocab = gen.Vocab(
            closed.people + extra.people,
            closed.companies + extra.companies,
            closed.cities + extra.cities,
        )
        batches, self.triples = gen.merge_batches(self.seed, self.vocab, self.n_triples)
        write_table(batches, os.path.join(path, "batches"))
        self.expected_edges = {
            (gen.node_id(sl, s), p, gen.node_id(ol, o)) for s, p, o, sl, ol in self.triples
        }
        self.expected_nodes = {n for e in self.expected_edges for n in (e[0], e[2])}
        self.n_statements = len(self.triples) + len(self.expected_nodes)

        golden = entry._golden()
        rows = [
            (f"{e['query_id']}#{c}", e["cypher"], e.get("schema", "eval"))
            for c in range(self.golden_copies)
            for e in golden
        ]
        write_table(
            pa.table(dict(zip(("query_id", "cypher", "schema"), map(list, zip(*rows))))),
            os.path.join(path, "golden"),
        )
        self.golden = {e["query_id"]: e for e in golden}

        # kernel graph: a seeded subsample of the triples, each with an
        # evidence count (the number of documents asserting it)
        import random

        rng = random.Random(self.seed * 31 + 7)
        sample = rng.sample(self.triples, self.kernel_triples)
        self.kernel_edges = [(s, o) for s, _p, o, _sl, _ol in sample for _ in range(rng.randint(1, 3))]
        pair_w: dict = {}
        for s, o in self.kernel_edges:
            if s != o:
                key = (s, o) if s < o else (o, s)
                pair_w[key] = pair_w.get(key, 0) + 1
        self.pair_w = pair_w
        write_table(
            pa.table({"src": [s for s, _ in self.kernel_edges], "dst": [o for _, o in self.kernel_edges]}),
            os.path.join(path, "kernel_edges"),
            n_files=4,
        )
        write_table(
            pa.table({
                "u": [k[0] for k in pair_w],
                "v": [k[1] for k in pair_w],
                "w": pa.array(list(pair_w.values()), pa.int64()),
            }),
            os.path.join(path, "kernel_pairs"),
            n_files=4,
        )
        self.path = path
        self.queries = {q: getattr(entry, f"_CYPHER_{q.upper()}_Q") for q in QUERIES}

    def describe(self) -> dict:
        qtexts = [e["cypher"] for e in self.golden.values()]
        return {
            "merge_statements": self.n_statements,
            "distinct_triples": len(self.triples),
            "nodes": len(self.expected_nodes),
            "golden_verdicts": len(self.golden) * self.golden_copies,
            "golden_distinct_ratio": len(set(qtexts)) / (len(qtexts) * self.golden_copies),
            "queries": len(QUERIES),
            "kernel_edges": len(self.kernel_edges),
            "kernel_pairs": len(self.pair_w),
        }

    def _schemas(self) -> dict:
        from cypher_guard_spark.guard import DbSchema

        unit = DbSchema.from_dict(json.loads((HERE.parent / "tests/golden/unit_schema.json").read_text()))
        return {"eval": eval_schema(), "unit": unit}

    def run_pass(self, tracer) -> dict:
        from cypher_guard_spark.pipeline.apply_merge import MergeApplyRefused, apply_merge_batches
        from cypher_guard_spark.pipeline.executor import execute_cypher
        from cypher_guard_spark.pipeline.graph_algo import louvain, pagerank
        from cypher_guard_spark.spark.validate_udf import validate_dataframe
        from pyspark.sql import functions as F

        spark = self.spark
        batches = spark.read.parquet(os.path.join(self.path, "batches"))
        golden = spark.read.parquet(os.path.join(self.path, "golden"))
        kedges = spark.read.parquet(os.path.join(self.path, "kernel_edges"))
        kpairs = spark.read.parquet(os.path.join(self.path, "kernel_pairs"))
        schemas = self._schemas()
        res: dict = {"queries": {}, "kernels": {}, "verdicts": [], "validated": [], "refused": []}

        t0 = time.perf_counter()
        with tracer.span("apply_merge_batches"):
            try:
                nodes, edges = apply_merge_batches(spark, batches)
                nodes = nodes.localCheckpoint()
                edges = edges.localCheckpoint()
                res["graph"] = (nodes, edges)
            except MergeApplyRefused as exc:
                res["refused"] = exc.failures
                res["graph"] = None

        with tracer.span("validate_dataframe") as gate:
            for kind, schema in schemas.items():
                part = golden.where(F.col("schema") == kind)
                with tracer.span(f"validate_dataframe:{kind}"):
                    validated = validate_dataframe(spark, part, schema)
                    res["verdicts"].extend(
                        validated.select("query_id", "is_valid", "syntax_ok", "is_write", "errors").collect()
                    )
                res["validated"].append(validated)

        if res["graph"] is not None:
            for q, text in self.queries.items():
                with tracer.span(f"execute_cypher:{q}") as sp:
                    t = time.perf_counter()
                    try:
                        df = execute_cypher(spark, None, text, graph=res["graph"])
                        plan_s = time.perf_counter() - t
                        rows = [tuple(r) for r in df.collect()]
                    except Exception as exc:  # a refusal or crash is a failed query
                        plan_s, rows = time.perf_counter() - t, exc
                sp.counts["plan_s"] = plan_s
                res["queries"][q] = rows

        kernel_calls = {
            "louvain": lambda: louvain(
                spark, kpairs, src="u", dst="v", weight="w",
                iters=self.louvain_iters, max_levels=self.louvain_levels,
            ),
            "pagerank": lambda: pagerank(spark, kedges, iters=self.pagerank_iters, exact=True),
        }
        for k, call in kernel_calls.items():
            with tracer.span(k):
                try:
                    rows = [tuple(r) for r in call().collect()]
                except Exception as exc:  # a crash is a failed kernel
                    rows = exc
            res["kernels"][k] = rows
        res["wall_s"] = time.perf_counter() - t0
        # the query gate's throughput: golden verdicts per second of the
        # validate_dataframe calls' wall
        res["rate"] = len(res["verdicts"]) / gate.wall_s
        return res

    # --- checks -----------------------------------------------------------
    def _twin_rows(self, edge_rows) -> dict:
        """Expected rows of every query and kernel, from independent
        evaluations: the registry's DuckDB twins over the applied edge list,
        and the registry's serial kernel twins over the kernel graph."""
        import unittest.mock as mock

        import __spark_entry__ as entry

        def surface(nid: str) -> tuple:
            label, first, last, company, city = nid.split("\x1f")
            if label == "Person":
                return label, f"{first} {last}" if last else first
            return label, company if label == "Company" else city

        trows = []
        for src, pred, dst in edge_rows:
            (sl, s), (ol, o) = surface(src), surface(dst)
            trows.append((s, pred, o, sl, ol))
        con = duckdb.connect()
        out: dict = {}
        try:
            con.register(
                "applied",
                pa.table(dict(zip(("subj", "pred", "obj", "subj_label", "obj_label"), map(list, zip(*trows))))),
            )
            with mock.patch.object(entry, "_kg_canonical_labeled_values", lambda: "SELECT * FROM applied"):
                for q in QUERIES:
                    out[q] = Counter(tuple(r) for r in con.execute(getattr(entry, f"_kg_cypher_{q}_sql")()).fetchall())
            six = [("d", s, "R", o, "L", "L") for s, o in self.kernel_edges]
            with mock.patch.object(entry, "_py_kg_canonical_triples", lambda *a: six):
                out["pagerank"] = Counter(
                    con.execute(entry._kg_pagerank_values(iters=self.pagerank_iters)).fetchall()
                )
        finally:
            con.close()
        louv = entry._py_louvain(self.pair_w, iters=self.louvain_iters, max_levels=self.louvain_levels)
        out["louvain"] = Counter(louv.items())
        return out

    def check(self, res: dict, problems: Problems) -> dict:
        problems.record(not res["refused"], f"apply refused {len(res['refused'])} statements",
                        n=self.n_statements, bad=len(res["refused"]))
        checked: dict = {"nodes": 0, "edges": 0}
        if res["graph"] is not None:
            nodes, edges = res["graph"]
            edge_rows = [tuple(r) for r in edges.select("src", "pred", "dst").collect()]
            node_rows = {r[0] for r in nodes.collect()}
            checked["nodes"], checked["edges"] = len(node_rows), len(edge_rows)
            problems.record(
                set(edge_rows) == self.expected_edges and len(edge_rows) == len(self.expected_edges)
                and node_rows == self.expected_nodes,
                "applied graph differs from the distinct canonical triples",
            )
            if self._twins is None:
                self._twins = self._twin_rows(edge_rows)
        bad_verdicts = 0
        for r in res["verdicts"]:
            if not _verdict_matches(r, self.golden[r["query_id"].rsplit("#", 1)[0]]):
                bad_verdicts += 1
        problems.record(
            bad_verdicts == 0 and len(res["verdicts"]) == len(self.golden) * self.golden_copies,
            f"{bad_verdicts} golden verdict mismatches",
            n=len(self.golden) * self.golden_copies, bad=max(bad_verdicts, 1),
        )
        for q in QUERIES:
            got = res["queries"].get(q)
            ok = (
                got is not None and self._twins is not None
                and not isinstance(got, Exception) and Counter(got) == self._twins[q]
            )
            problems.record(ok, f"query {q} rows differ from its DuckDB twin")
        for k in KERNELS:
            got = res["kernels"][k]
            ok = not isinstance(got, Exception) and self._twins is not None and Counter(got) == self._twins[k]
            problems.record(ok, f"kernel {k} differs from its serial twin")
        return checked

    def cleanup(self, res: dict) -> None:
        if res.get("graph") is not None:
            for df in res["graph"]:
                df.unpersist()

    def layer_metrics(self, tracer, res: dict, checked: dict) -> dict:
        m: dict = {}
        ap = tracer.find("apply_merge_batches")[0]
        m["apply_merge.statements"] = self.n_statements
        m["apply_merge.wall_s"] = ap.wall_s
        m["apply_merge.parse_passes"] = ap.stats["udf_rows"] / self.n_statements
        m["apply_merge.refused"] = len(res["refused"])
        m["apply_merge.nodes"] = checked["nodes"]
        m["apply_merge.edges"] = checked["edges"]

        va = tracer.find("validate_dataframe")[0]
        vt = tracer.totals([va])
        n = len(res["verdicts"])
        m["validate_udf.statements"] = n
        m["validate_udf.wall_s"] = va.wall_s
        m["validate_udf.python_s"] = vt["python_s"]
        m["validate_udf.stmts_per_core_s"] = n / max(vt["python_s"], 1e-9)
        m["validate_udf.distinct_ratio"] = len({r["query_id"].rsplit("#", 1)[0] for r in res["verdicts"]}) / max(n, 1)

        for q in QUERIES:
            sp = tracer.find(f"execute_cypher:{q}")[0]
            rows = res["queries"][q]
            m[f"executor.{q}.plan_s"] = sp.counts["plan_s"]
            m[f"executor.{q}.run_s"] = sp.wall_s - sp.counts["plan_s"]
            m[f"executor.{q}.rows"] = 0 if isinstance(rows, Exception) else len(rows)
            m[f"executor.{q}.jobs"] = sp.stats["jobs"]
        for k in KERNELS:
            sp = tracer.find(k)[0]
            rows = res["kernels"][k]
            m[f"graph_algo.{k}.wall_s"] = sp.wall_s
            m[f"graph_algo.{k}.jobs"] = sp.stats["jobs"]
            m[f"graph_algo.{k}.tasks"] = sp.stats["tasks"]
            m[f"graph_algo.{k}.rows"] = 0 if isinstance(rows, Exception) else len(rows)
        return m

    def error_histogram(self, res: dict) -> dict:
        from cypher_guard_spark.spark.validate_udf import partition_error_summary

        hist: Counter = Counter()
        for validated in res["validated"]:
            hist.update(_histogram(partition_error_summary(validated)))
        return dict(hist)


def _verdict_matches(r, e: dict) -> bool:
    if r["is_valid"] != e["has_valid_cypher"] or r["syntax_ok"] != e["parse_ok"]:
        return False
    if e["parse_ok"]:
        return sorted(err["message"] for err in r["errors"]) == e["error_messages"] and r["is_write"] == e["is_write"]
    return r["errors"][0]["code"] == e["exception_class"]


WORKLOADS = {w.name: w for w in (KgBuild, KgRead)}
