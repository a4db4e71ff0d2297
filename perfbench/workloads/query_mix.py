"""``query_mix``: one op is one pass, in a fixed order, over the registry
entries of ``metrics.QUERY_MIX`` on generated tables at sf0.01. Each is
built, executed and its rows collected. These entries are bound by fixed
costs (planning, task scheduling, session confs, state stores), so this
workload shows session-wide and planner changes, and it bypasses
``ingest`` and the corpus operators.

After the window every op's results are checked against their DuckDB
oracles under ``tests/oracle.py``'s canonicalization, and the IVF top-k
q48c runs once, held to recall@5 >= 0.7 against q48's exact top-k.
Units: queries.
"""

from __future__ import annotations

import os
import time

from .. import gen
from ..harness import median_or_zero
from ..metrics import ANN_ENTRY, EXACT_ENTRY, QUERY_MIX, code
from ..trace import duration

SF = 0.01
WARMUP_PASSES = 8
NOMINAL_OP_S = 1.8  # the window holds --seconds / NOMINAL_OP_S passes
RECALL_FLOOR = 0.7  # the IVF recall@5 floor tests/test_llm_ops.py holds


def planning_s(df) -> float:
    """Analysis, optimization and planning phases of the query's
    QueryExecution tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    return sum(phases.apply(p).durationMs() for p in ("analysis", "optimization", "planning")
               if phases.contains(p)) / 1000.0


def oracles(sf_dir: str, registry, names) -> dict[str, tuple[list[str], list[str]]]:
    """{entry: (sorted columns, canonical rows)} of each entry's DuckDB oracle."""
    from tests.oracle import canon_rows, duck_connection

    con = duck_connection(sf_dir)
    try:
        con.execute("SET enable_progress_bar = false")
        out = {}
        for name in names:
            cur = con.execute(registry[name].oracle)
            cols = [d[0] for d in cur.description]
            out[name] = (sorted(cols), canon_rows(cols, cur.fetchall()))
        return out
    finally:
        con.close()


def matches(want: tuple[list[str], list[str]], cols: list[str], rows) -> bool:
    from tests.oracle import canon_rows

    return sorted(cols) == want[0] and canon_rows(cols, [tuple(r) for r in rows]) == want[1]


def recall_at_5(exact_rows, ann_rows) -> float:
    """Share of the exact top-5 neighbours (q_id, n_id) the ANN result holds."""
    exact: dict[int, set] = {}
    for q, n in exact_rows:
        exact.setdefault(q, set()).add(n)
    got: dict[int, set] = {}
    for q, n in ann_rows:
        got.setdefault(q, set()).add(n)
    hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
    return hits / sum(len(s) for s in exact.values())


class StreamProbe:
    """A StreamingQueryListener: state rows, state partitions and batch
    time of every progress event with a stateful operator."""

    def __init__(self):
        from pyspark.sql.streaming.listener import StreamingQueryListener

        events = self.events = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.stateOperators:
                    events.append({
                        "batch_s": p.batchDuration / 1000.0,
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                        "state_partitions": sum(s.numShufflePartitions
                                                for s in p.stateOperators),
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()


def run(b) -> None:
    from bucket_to_bigquery_spark.queries import all_queries

    sf_dir = os.path.join(b.work, "tables")
    t = time.perf_counter()
    b.detail["table_rows"] = gen.write_tables(sf_dir, b.seed, SF)
    b.detail["input_gen_s"] = time.perf_counter() - t

    spark = b.start_session("perfbench-query-mix")
    tr = b.tracer
    registry = all_queries()
    results: dict[int, dict[str, tuple]] = {}
    probe = None
    if b.trace:
        probe = StreamProbe()
        spark.streams.addListener(probe.listener)

    def op(i: int, traced: bool) -> int:
        out = results[i] = {}
        for name in QUERY_MIX:
            with tr.span(f"query.{code(name)}") as attrs:
                df = registry[name].builder(spark, sf_dir)
                out[name] = (df.columns, df.collect())
                if traced:
                    attrs["planning_s"] = planning_s(df)
        return len(QUERY_MIX)

    def prepare(i: int) -> None:
        if i == 0 and probe is not None:
            probe.events.clear()  # keep the window's progress events only

    b.warm_up(op, WARMUP_PASSES)
    b.measure(op, NOMINAL_OP_S, prepare)

    # output checks, after the window
    want = oracles(sf_dir, registry, QUERY_MIX)
    for r in b.ops:
        if r.error is not None:
            continue
        for name, (cols, rows) in results[r.index].items():
            if not matches(want[name], cols, rows):
                b.fail_op(r.index, f"op {r.index}: {name} differs from its DuckDB oracle")
    exact = _exact_pairs(sf_dir, registry)
    ann = [(row["q_id"], row["n_id"]) for row in registry[ANN_ENTRY].builder(spark, sf_dir).collect()]
    recall = recall_at_5(exact, ann)
    b.check(recall >= RECALL_FLOOR, f"{ANN_ENTRY}: recall@5 {recall:.3f} < {RECALL_FLOOR}")
    b.detail.update(recall_at_5=recall, passes=len(b.ops))
    if b.trace:
        layers(b, spark, sf_dir, probe, recall)


def _exact_pairs(sf_dir: str, registry) -> list[tuple[int, int]]:
    """q48's exact top-k (q_id, n_id) pairs, from its DuckDB oracle."""
    from tests.oracle import duck_connection

    con = duck_connection(sf_dir)
    try:
        cur = con.execute(registry[EXACT_ENTRY].oracle)
        cols = [d[0] for d in cur.description]
        q, n = cols.index("q_id"), cols.index("n_id")
        return [(row[q], row[n]) for row in cur.fetchall()]
    finally:
        con.close()


def layers(b, spark, sf_dir: str, probe, recall: float) -> None:
    from bucket_to_bigquery_spark.catalog import load_tables
    from bucket_to_bigquery_spark.operators.similarity import ivf_scan_stats
    from pyspark.sql import functions as F

    ops = list(b.tracer.by_op().values())
    for name in QUERY_MIX:
        b.layer[f"query.{code(name)}_s"] = median_or_zero(
            duration(ss[f"query.{code(name)}"]) for ss in ops)
    b.layer["query.planning_s"] = median_or_zero(
        sum(s["attrs"]["planning_s"] for s in ss.values()) for ss in ops)
    b.layer["similarity.recall_at_5"] = recall
    emb = load_tables(spark, sf_dir)["embeddings"]
    b.layer["similarity.ivf_scan_frac"] = float(
        ivf_scan_stats(emb, emb.where(F.col("vec_id") < 10), k=5)["scan_frac"])
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    for key in ("state_rows", "state_partitions", "batch_s"):
        b.layer[f"streaming.{key}"] = median_or_zero(e[key] for e in probe.events)
    b.engine_layers()
