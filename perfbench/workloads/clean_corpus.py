"""``clean_corpus``: one op is one ``run pipeline`` invocation
(``run.pipeline_main``) over q54's planted-duplicate corpus, replicated
``REPLICAS`` times with no shingle shared between replicas (see
``gen.write_corpus``). Most of its work is in ``operators.dedup``,
``operators.graph`` and ``operators.substring``; it bypasses ``ingest``
and small-query planning. Units: input documents.

After the window the CLI runs once on the unreplicated corpus: its chunk
manifest must equal q54's DuckDB oracle, and every op's per-document
output must be exactly ``REPLICAS`` copies of that base output.
"""

from __future__ import annotations

import collections
import contextlib
import importlib
import io
import json
import os
import time

from .. import gen
from ..harness import median_or_zero
from ..trace import duration, patched

BASE_DOCS = 250
REPLICAS = 2
WARMUP_RUNS = 3
NOMINAL_OP_S = 5.0  # the window holds --seconds / NOMINAL_OP_S runs, at least 11
CHUNK_COLUMNS = ["shard_id", "chunk_id", "n_docs", "n_tokens", "first_doc", "last_doc"]


def cli(documents: str, output: str) -> dict:
    from bucket_to_bigquery_spark.run import main as run_main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = run_main(["pipeline", "--documents", documents, "--output", output])
    if rc != 0:
        raise RuntimeError(f"run pipeline exited {rc}")
    return json.loads(buf.getvalue())


def per_doc(output: str) -> collections.Counter:
    """(doc_id mod replica offset, n_tokens) multiset of the CLI's corpus."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(output, "corpus"), columns=["doc_id", "n_tokens"])
    return collections.Counter(
        zip((d % gen.REPLICA_ID_OFFSET for d in t["doc_id"].to_pylist()),
            t["n_tokens"].to_pylist()))


def chunks(output: str) -> list[tuple]:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(output, "chunks"), columns=CHUNK_COLUMNS)
    return sorted(zip(*(t[c].to_pylist() for c in CHUNK_COLUMNS)))


def oracle_chunks(documents: str) -> list[tuple]:
    import duckdb

    from bucket_to_bigquery_spark.queries.pipeline_queries import _Q54_SQL

    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{documents}'")
        return sorted(tuple(r) for r in con.execute(_Q54_SQL).fetchall())
    finally:
        con.close()


def run(b) -> None:
    t = time.perf_counter()
    files = gen.write_corpus(os.path.join(b.work, "corpus"), b.seed, BASE_DOCS, REPLICAS)
    b.detail["input_gen_s"] = time.perf_counter() - t

    b.start_session("perfbench-clean-corpus")
    reports = {}

    def op(i: int, traced: bool) -> int:
        out = os.path.join(b.work, f"out-{i}")
        with b.tracer.span("pipeline.cli"):
            reports[i] = cli(files["replicas"], out)
        return reports[i]["documentsIn"]

    with traced_stages(b):
        b.warm_up(op, WARMUP_RUNS)
        b.measure(op, NOMINAL_OP_S)

    # output checks, after the window
    base_out = os.path.join(b.work, "out-base")
    cli(files["base"], base_out)
    b.check(chunks(base_out) == oracle_chunks(files["documents"]),
            "the unreplicated corpus's chunk manifest differs from q54's DuckDB oracle")
    want = collections.Counter({k: v * REPLICAS for k, v in per_doc(base_out).items()})
    for r in b.ops:
        if r.error is None and per_doc(os.path.join(b.work, f"out-{r.index}")) != want:
            b.fail_op(r.index, f"op {r.index}: output is not {REPLICAS} copies of the base output")
    b.detail.update(base_docs=files["base_docs"], replica_docs=files["replica_docs"],
                    replicas=REPLICAS)
    if b.trace:
        layers(b)


STAGES = (  # (module, function, span), in the order the CLI calls them
    ("bucket_to_bigquery_spark.queries.llm_queries", "quality_gates", "gates"),
    ("bucket_to_bigquery_spark.operators.dedup", "exact_dedup_groups", "exact_dedup"),
    ("bucket_to_bigquery_spark.operators.dedup", "ngram_jaccard_pairs", "near_pairs"),
    ("bucket_to_bigquery_spark.operators.graph", "connected_components", "cc"),
    ("bucket_to_bigquery_spark.operators.substring", "substring_scrub", "scrub"),
    ("bucket_to_bigquery_spark.queries.pipeline_queries", "pack_chunks_counts", "pack"),
)


@contextlib.contextmanager
def traced_stages(b):
    """Spans around each stage function the CLI calls. A traced stage
    materializes its result (persist and count) inside its span, so its
    execution is timed there and not in a later write; the benchmark
    unpersists those frames itself before the op's leaks are counted."""
    tr = b.tracer
    if not tr.enabled:
        yield
        return
    persisted = []

    def wrap(name):
        def w(orig):
            def call(*a, **k):
                if not tr.recording:
                    return orig(*a, **k)
                with tr.span(f"pipeline.{name}") as attrs:
                    df = orig(*a, **k).persist()
                    attrs["rows"] = df.count()
                    attrs.update(_stage_counts(name, df))
                persisted.append(df)
                return df
            return call
        return w

    def wrap_cli(orig):
        def call(*a, **k):
            try:
                return orig(*a, **k)
            finally:
                while persisted:
                    persisted.pop().unpersist()
        return call

    with contextlib.ExitStack() as stack:
        for mod, fn, span in STAGES:
            stack.enter_context(patched(importlib.import_module(mod), fn, wrap(span)))
        stack.enter_context(patched(
            importlib.import_module("bucket_to_bigquery_spark.run"), "pipeline_main", wrap_cli))
        yield


def _stage_counts(name: str, df) -> dict:
    from pyspark.sql import functions as F

    if name == "gates":
        return {"kept": df.where("kept").count()}
    if name == "cc":
        return {"clusters": df.select("cluster_id").distinct().count()}
    if name == "scrub":
        r = df.agg(F.sum("n_tokens").alias("t"), F.sum("n_kept").alias("k")).first()
        return {"tokens": r["t"] or 0, "kept_tokens": r["k"] or 0}
    if name == "pack":
        return {"tokens": df.agg(F.sum("n_tokens")).first()[0] or 0}
    return {}


def layers(b) -> None:
    """pipeline.* per-layer metrics: medians over the traced ops."""
    ops = [ss for ss in b.tracer.by_op().values() if "pipeline.cc" in ss]
    a = lambda ss, st: ss[f"pipeline.{st}"]["attrs"]  # noqa: E731

    def med(f):
        return median_or_zero(f(ss) for ss in ops)

    for _, _, stage in STAGES:
        b.layer[f"pipeline.{stage}_s"] = med(lambda ss: duration(ss[f"pipeline.{stage}"]))
    b.layer["pipeline.gates_kept_frac"] = med(
        lambda ss: a(ss, "gates")["kept"] / a(ss, "gates")["rows"])
    b.layer["pipeline.exact_dup_frac"] = med(
        lambda ss: 1 - a(ss, "exact_dedup")["rows"] / a(ss, "gates")["kept"])
    b.layer["pipeline.near_pairs"] = med(lambda ss: a(ss, "near_pairs")["rows"])
    b.layer["pipeline.cc_jobs"] = med(lambda ss: ss["pipeline.cc"]["spark"]["spark.jobs"])
    b.layer["pipeline.clusters"] = med(lambda ss: a(ss, "cc")["clusters"])
    b.layer["pipeline.tokens_kept_frac"] = med(
        lambda ss: a(ss, "scrub")["kept_tokens"] / a(ss, "scrub")["tokens"])
    b.layer["pipeline.chunk_fill"] = med(
        lambda ss: a(ss, "pack")["tokens"] / (512 * a(ss, "pack")["rows"]))
    b.engine_layers()
