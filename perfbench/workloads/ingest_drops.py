"""``ingest_drops``: the paper's own job. One op takes one drop of sensor
CSVs from landing to queryable:

1. the drop's OBJECT_FINALIZE envelopes, ``gen.REDELIVERED`` of them
   redelivered, go through
   ``ingest.events.events_to_candidates``;
2. the candidates go to ``BatchLoader.run(manifest, candidate_files=...)``;
3. a query over the ``local_time`` view (``functions.local_time_col`` on
   ``read_table_partitioned``), pruned to the drop's three days, returns
   the drop's row count and local-time sum.

Every drop has the same files and rows. The warm-up drops go into the
same table, and drop ``EXPAND_AT`` adds the A2 ``ch_pressure`` column, so
every timed op loads the same A2 shape. Data and audit files pile up drop
after drop, so a layout change that speeds writes but slows reads shows
in the same op. Units: CSV rows loaded.
"""

from __future__ import annotations

import contextlib
import os
import time

from .. import gen
from ..harness import median_or_zero
from ..metrics import LOADER_STAGES
from ..trace import duration, patched

# FIXTURES A1 gives about 200 rows per file. No source gives the files in
# one drop or the share of redelivered notifications; 8 files and
# gen.REDELIVERED are this benchmark's own choice.
N_FILES = 8
ROWS_PER_FILE = 200
# With 6 warm-up drops, every drop from the 12th on took about 0.3 s longer
# than the ones before it; 11 put every timed drop past that step.
WARMUP_DROPS = 11
NOMINAL_OP_S = 1.8  # the window holds --seconds / NOMINAL_OP_S drops
EXPAND_AT = 3
URI_FORMAT = "{bucket}/{name}"  # bucket = the landing root, name = below it


def manifest(landing: str, table: str):
    from bucket_to_bigquery_spark.ingest import parse_manifest

    return parse_manifest({
        "project": "perfbench",
        "tasks": [{
            "sources": [f"{landing}/sensors/**/*.csv"],
            "dataset": "bench",
            "table": table,
            "fields": [{"name": "timestamp", "type": "timestamp"},
                       {"name": "utc_offset", "type": "float"},
                       {"name": "location", "type": "string"}],
            "timePartitioningField": "timestamp",
        }],
    })


def drop_days(drop: int) -> tuple[str, str]:
    """First and last DAY partition of ``drop``."""
    start = gen.DROP_EPOCH + drop * gen.DROP_SECONDS
    day = lambda t: time.strftime("%Y-%m-%d", time.gmtime(t))  # noqa: E731
    return day(start), day(start + gen.DROP_SECONDS - 1)


def view_query(loader, task, drop: int):
    """The drop's rows through the ``local_time`` view: (rows, sum of
    local_time in epoch seconds), and the DataFrame that computed it."""
    from bucket_to_bigquery_spark.functions import local_time_col
    from pyspark.sql import functions as F

    lo, hi = drop_days(drop)
    view = loader.read_table_partitioned(task).where(
        F.col("__pdate").between(lo, hi)).select(
        local_time_col(F.col("timestamp"), F.col("utc_offset")).alias("local_time"))
    df = view.agg(F.count(F.lit(1)).alias("rows"),
                  F.sum(F.unix_seconds("local_time")).alias("local_ts_sum"))
    row = df.collect()[0]
    return (row["rows"], row["local_ts_sum"]), df


def check_table(loader, task, expected: dict[int, dict],
                files: dict[int, list[str]]) -> dict[int, str]:
    """Per drop: rows and sums equal the generator's (pre-expansion drops
    with a null ``ch_pressure``), and the audit holds each of the drop's
    files exactly once. Returns {drop: problem}; -1 and -2 are rows and
    audit entries that belong to no drop."""
    from pyspark.sql import functions as F

    cents = lambda c: F.sum(F.round(F.col(c) * 100).cast("long"))  # noqa: E731
    secs = F.unix_timestamp("timestamp")
    got = {
        r["drop"]: r.asDict()
        for r in loader.read_table(task)
        .groupBy(((secs - gen.DROP_EPOCH) / gen.DROP_SECONDS).cast("long").alias("drop"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(secs).alias("ts_sum"),
            cents("utc_offset").alias("utc_offset_sum_c"),
            cents("ch_temp").alias("ch_temp_sum_c"),
            cents("ch_humidity").alias("ch_humidity_sum_c"),
            F.coalesce(cents(gen.EXPANDED_COLUMN), F.lit(0)).alias("ch_pressure_sum_c"),
            F.count(gen.EXPANDED_COLUMN).alias("ch_pressure_rows"),
            *[F.count(F.when(F.col("location") == loc, 1)).alias(f"loc_{loc}")
              for loc in gen.LOCATIONS],
        ).collect()
    }
    audit: dict[str, int] = {}
    for r in loader.read_audit(task).select("uri").collect():
        audit[r["uri"]] = audit.get(r["uri"], 0) + 1
    problems = {}
    for d, exp in expected.items():
        row = got.pop(d, None)
        audited = [audit.pop(f, 0) for f in files[d]]
        bad = {k: (row.get(k), v) for k, v in exp.items()
               if k in row and row[k] != v} if row else {}
        if not row:
            problems[d] = "no rows"
        elif bad:
            problems[d] = f"values differ (got, expected): {bad}"
        elif any(n != 1 for n in audited):
            problems[d] = f"audit counts of the drop's files are {audited}, not all 1"
    if got:
        problems[-1] = f"rows outside every drop: {sorted(got)}"
    if audit:
        problems[-2] = f"audit holds files of no drop: {sorted(audit)[:3]}"
    return problems


def files_read(df) -> int:
    """Files the executed plan's scans read (their ``numFiles`` metric)."""
    total, todo = 0, [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        metric = node.metrics().get("numFiles")
        if metric.isDefined():
            total += metric.get().value()
        kids = node.children()
        todo.extend(kids.apply(k) for k in range(kids.size()))
    return total


def run(b) -> None:
    from bucket_to_bigquery_spark.ingest import BatchLoader, events

    landing = os.path.join(b.work, "landing")
    paths: dict[int, list[str]] = {}
    expected: dict[int, dict] = {}
    envelopes: dict[int, list[dict]] = {}
    csv_bytes: dict[int, int] = {}

    def write(d: int) -> None:
        paths[d], expected[d] = gen.write_drop(
            landing, b.seed, d, N_FILES, ROWS_PER_FILE, expanded=d >= EXPAND_AT)
        envelopes[d] = gen.drop_envelopes(landing, paths[d], b.seed, d)
        csv_bytes[d] = sum(os.path.getsize(p) for p in paths[d])

    t = time.perf_counter()
    for d in range(WARMUP_DROPS + 1):
        write(d)
    b.detail["input_gen_s"] = time.perf_counter() - t

    spark = b.start_session("perfbench-ingest-drops")
    tr = b.tracer
    loader = BatchLoader(spark, os.path.join(b.work, "wh"))
    man = manifest(landing, "sensors")
    task = man.tasks[0]
    reports, views, candidates = {}, {}, {}

    def op(i: int, traced: bool) -> int:
        d = WARMUP_DROPS + i
        with tr.span("ingest.decode") as attrs:
            cands = events.events_to_candidates(spark, envelopes[d], uri_format=URI_FORMAT)
            attrs.update(envelopes=len(envelopes[d]), candidates=len(cands))
        (rep,) = loader.run(man, candidate_files=cands)
        with tr.span("ingest.view_query") as attrs:
            views[d], df = view_query(loader, task, d)
            if traced:
                attrs["files_read"] = files_read(df)
        candidates[d], reports[d] = cands, rep
        return rep.rows_loaded

    def prepare(i: int) -> None:
        d = WARMUP_DROPS + i
        if d not in paths:
            write(d)

    with traced_loader(b):
        b.warm_up(op, WARMUP_DROPS, prepare)
        b.measure(op, NOMINAL_OP_S, prepare)

    # output checks, after the window
    timed = {WARMUP_DROPS + r.index: r.index for r in b.ops}
    loaded = {d: expected[d] for d in reports}
    for d, why in sorted(check_table(loader, task, loaded, paths).items()):
        if d in timed:
            b.fail_op(timed[d], f"drop {d}: {why}")
        else:
            b.check(False, f"drop {d}: {why}")
    for d, i in timed.items():
        if d not in reports:
            continue
        if candidates[d] != sorted(paths[d]):
            b.fail_op(i, f"drop {d}: candidates are not the drop's files")
        want = (expected[d]["rows"], expected[d]["local_ts_sum"])
        if views[d] != want:
            b.fail_op(i, f"drop {d}: view query returned {views[d]}, expected {want}")
    (rerun,) = loader.run(man)
    b.check(not rerun.files_loaded,
            f"whole-manifest re-run loaded {len(rerun.files_loaded)} files")

    b.detail.update(drops=len(reports), rows_per_drop=N_FILES * ROWS_PER_FILE)
    if b.trace:
        layers(b, loader, task, reports, csv_bytes)


@contextlib.contextmanager
def traced_loader(b):
    """Spans around the loader's public calls. ``BatchLoader.run`` gets the
    loader's own ``t_*`` stage timings as child spans."""
    from bucket_to_bigquery_spark.ingest import BatchLoader

    tr = b.tracer
    if not tr.enabled:
        yield
        return

    def wrap_run(orig):
        def run(loader, *a, **k):
            with tr.span("ingest.run"):
                reports = orig(loader, *a, **k)
            if tr.recording:
                root = tr.spans[-1]
                t = root["start"]
                for stage in LOADER_STAGES:
                    dt = reports[0].metrics.get(f"t_{stage}")
                    if dt is None:
                        break
                    if stage != "audit_anti_join":  # a real span, below
                        tr.add(f"ingest.{stage}", t, t + dt, root["id"])
                    t += dt
            return reports
        return run

    def wrap(name):
        def w(orig):
            def call(loader, *a, **k):
                with tr.span(name):
                    return orig(loader, *a, **k)
            return call
        return w

    with contextlib.ExitStack() as stack:
        stack.enter_context(patched(BatchLoader, "run", wrap_run))
        stack.enter_context(patched(BatchLoader, "files_already_imported",
                                    wrap("ingest.audit_anti_join")))
        stack.enter_context(patched(BatchLoader, "read_table_partitioned",
                                    wrap("ingest.read_table_partitioned")))
        yield


def layers(b, loader, task, reports, csv_bytes) -> None:
    """Per-layer metrics: medians over the traced ops, file counts per drop
    at the end."""
    ops = list(b.tracer.by_op().values())
    drop_of = {f"op-{r.index}": WARMUP_DROPS + r.index for r in b.ops if r.traced}
    L = b.layer
    L["ingest.decode_s"] = median_or_zero(duration(ss["ingest.decode"]) for ss in ops)
    L["ingest.candidates_per_envelope"] = median_or_zero(
        ss["ingest.decode"]["attrs"]["candidates"] / ss["ingest.decode"]["attrs"]["envelopes"]
        for ss in ops)
    for stage in LOADER_STAGES:
        L[f"ingest.{stage}_s"] = median_or_zero(
            duration(ss[f"ingest.{stage}"]) for ss in ops if f"ingest.{stage}" in ss)
    L["ingest.schema_expansions"] = float(sum(
        len(r.expanded_fields) for r in reports.values()))
    # the loader's own jobs, outside the audit anti-join's span
    L["ingest.csv_read_passes"] = median_or_zero(
        ss["ingest.run"]["spark"]["spark.input_mb"] * 2**20
        / csv_bytes[drop_of[ss["ingest.run"]["op"]]] for ss in ops)
    L["ingest.view_query_s"] = median_or_zero(
        duration(ss["ingest.view_query"]) for ss in ops)
    L["ingest.view_files_read"] = median_or_zero(
        ss["ingest.view_query"]["attrs"]["files_read"] for ss in ops)
    root = os.path.join(loader.warehouse, task.qualified_table)

    def parquet(d):
        return [os.path.join(p, f) for p, _, fs in os.walk(d)
                for f in fs if f.endswith(".parquet")]

    data = parquet(f"{root}/data")
    # per drop loaded, warm-up drops included, so the file layout is
    # compared and not the op count
    L["ingest.audit_files"] = len(parquet(f"{root}/_imported")) / len(reports)
    L["ingest.data_files"] = len(data) / len(reports)
    L["ingest.stored_bytes_per_csv_byte"] = (
        sum(os.path.getsize(p) for p in data) / sum(csv_bytes[d] for d in reports))
    b.engine_layers()
