"""Tests of the benchmark itself, not of the program it measures.

    python -m pytest perfbench/tests -q

Run from the repository root. The ingest tests start a small local Spark
session; every other test is plain Python.
"""

from __future__ import annotations

import base64
import csv
import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, harness, metrics  # noqa: E402
from perfbench.run import WORKLOADS, result_line  # noqa: E402


def _digest(folder: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(folder):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, folder)] = hashlib.sha256(fh.read()).hexdigest()
    return out


# -- the tail rule -------------------------------------------------------------

def test_tail_has_two_ops_beyond_it():
    t = harness.tail(list(range(100, 0, -1)))  # 1..100, unsorted
    assert t == {"value": 98, "percentile": 98.0, "n": 100, "beyond": 2}
    t = harness.tail([float(x) for x in range(16, 0, -1)])
    assert t == {"value": 14.0, "percentile": 87.5, "n": 16, "beyond": 2}


def test_tail_of_the_smallest_window_is_neither_its_median_nor_its_maximum():
    lat = [float(x) for x in range(1, harness.Bench.MIN_OPS + 1)]
    t = harness.tail(lat)
    assert t == {"value": 9.0, "percentile": 81.82, "n": 11, "beyond": 2}
    assert t["value"] not in (6.0, 11.0)


def test_window_op_count_depends_only_on_the_arguments():
    b = harness.Bench("unused", seed=1, seconds=20, trace=False)
    assert b.n_ops(1.8) == 11
    assert b.n_ops(5.0) == harness.Bench.MIN_OPS == 11
    assert harness.Bench("unused", seed=2, seconds=60, trace=True).n_ops(5.0) == 12


def test_self_time_subtracts_the_union_of_children():
    from perfbench.trace import self_time

    span = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 4.0},
            {"start": 6.0, "end": 7.0}, {"start": 9.5, "end": 12.0}]
    assert self_time(span, kids) == pytest.approx(10 - 3 - 1 - 0.5)
    assert self_time(span, []) == 10.0


# -- names -------------------------------------------------------------------

def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_names_match_the_metric_tables():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert spec["paths"] == ["perfbench"]
    assert spec["command"] == ["python3", "perfbench/run.py"]


class _FakeBench:
    failed, attempted = 0, 11
    layer = {"spark.jobs": 3.0}

    def end_to_end(self):
        return {k: 1.0 for k in metrics.END_TO_END}


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_printed_names_match_benchmark_json(trace, key):
    result, _ = result_line(_FakeBench(), bool(trace))
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert [(k, m["unit"]) for k, m in result["metrics"].items()] == [
        (m["name"], m["unit"]) for m in _spec()[key]]


# -- generators ----------------------------------------------------------------

def test_drop_generator_is_deterministic(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    ea = gen.write_drop(a, 7, 3, 3, 200, expanded=True)[1]
    eb = gen.write_drop(b, 7, 3, 3, 200, expanded=True)[1]
    gen.write_drop(c, 8, 3, 3, 200, expanded=True)
    assert _digest(a) == _digest(b) and ea == eb
    assert set(_digest(a).values()) != set(_digest(c).values())


def test_drop_expected_values_match_the_files(tmp_path):
    from datetime import datetime, timezone

    paths, exp = gen.write_drop(str(tmp_path), 5, 2, 2, 300, expanded=True)
    rows = []
    for p in paths:
        with open(p) as fh:
            rows += list(csv.DictReader(fh))
    assert len(rows) == exp["rows"] == 600
    assert sum(round(float(r["ch_temp"]) * 100) for r in rows) == exp["ch_temp_sum_c"]
    assert sum(round(float(r["ch_pressure"]) * 100) for r in rows) == exp["ch_pressure_sum_c"]
    assert sum(r["location"] == "osaka" for r in rows) == exp["loc_osaka"]
    secs = [int(datetime.strptime(r["timestamp"], "%Y-%m-%d %H:%M:%S")
                .replace(tzinfo=timezone.utc).timestamp()) for r in rows]
    assert sum(secs) == exp["ts_sum"]
    assert sum(s + 60 * round(float(r["utc_offset"]) * 60)
               for s, r in zip(secs, rows)) == exp["local_ts_sum"]
    assert len({r["timestamp"][:10] for r in rows}) == 3  # three DAY partitions


def test_envelopes_announce_each_file_with_redeliveries(tmp_path):
    landing = str(tmp_path)
    paths, _ = gen.write_drop(landing, 1, 0, 8, 10, expanded=False)
    envs = gen.drop_envelopes(landing, paths, 1, 0)
    assert envs == gen.drop_envelopes(landing, paths, 1, 0)
    objs = [json.loads(base64.b64decode(e["message"]["data"])) for e in envs]
    uris = [f"{o['bucket']}/{o['name']}" for o in objs]
    assert sorted(set(uris)) == sorted(paths)
    assert len(uris) == len(paths) + gen.REDELIVERED


def test_table_generator_is_deterministic(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 3, 0.001)
    gen.write_tables(str(tmp_path / "b"), 3, 0.001)
    gen.write_tables(str(tmp_path / "c"), 4, 0.001)
    da, db, dc = (_digest(str(tmp_path / x)) for x in "abc")
    assert da == db and len(da) == 10
    assert da["lineitem.parquet"] != dc["lineitem.parquet"]


def test_corpus_generator_is_deterministic_and_replicas_share_no_shingle(tmp_path):
    import pyarrow.parquet as pq

    a = gen.write_corpus(str(tmp_path / "a"), 9, 60, 3)
    gen.write_corpus(str(tmp_path / "b"), 9, 60, 3)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    t = pq.read_table(a["replicas"]).to_pylist()
    assert len(t) == 3 * a["base_docs"]
    shingles: dict[int, set] = {}
    for r in t:
        toks = r["text"].split()
        assert not any(x in gen.STOPWORDS and y in gen.STOPWORDS
                       for x, y in zip(toks, toks[1:]))
        k = r["doc_id"] // gen.REPLICA_ID_OFFSET
        shingles.setdefault(k, set()).update(zip(toks, toks[1:], toks[2:]))
    assert shingles[0].isdisjoint(shingles[1]) and shingles[1].isdisjoint(shingles[2])


# -- corrupted outputs fail their checks ----------------------------------------

def test_changed_oracle_row_fails_the_query_check():
    from tests.oracle import canon_rows

    from perfbench.workloads import query_mix

    cols = ["k", "v"]
    rows = [(1, 2.5), (2, None), (3, 4.0)]
    want = (sorted(cols), canon_rows(cols, rows))
    assert query_mix.matches(want, cols, list(reversed(rows)))
    assert not query_mix.matches(want, cols, [(1, 2.5), (2, None), (3, 4.5)])
    assert not query_mix.matches(want, cols, rows[:2])


def test_recall_at_5_counts_the_exact_neighbours_found():
    from perfbench.workloads import query_mix

    exact = [(q, n) for q in (1, 2) for n in range(5)]
    assert query_mix.recall_at_5(exact, exact) == 1.0
    ann = [(1, n) for n in range(5)] + [(2, n) for n in range(2, 7)]
    assert query_mix.recall_at_5(exact, ann) == 0.8


def test_altered_chunk_fails_the_oracle_check(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from perfbench.workloads import clean_corpus

    files = gen.write_corpus(str(tmp_path / "c"), 2, 40, 1)
    oracle = clean_corpus.oracle_chunks(files["documents"])
    cols = clean_corpus.CHUNK_COLUMNS

    def write(rows):
        out = tmp_path / "out"
        shutil.rmtree(out, ignore_errors=True)
        (out / "chunks").mkdir(parents=True)
        pq.write_table(pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)}),
                       str(out / "chunks" / "part-0.parquet"))
        return str(out)

    assert clean_corpus.chunks(write(oracle)) == oracle
    bad = [list(r) for r in oracle]
    bad[0][3] += 1
    assert clean_corpus.chunks(write(bad)) != oracle


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("spark"))
    harness.session_env(work, ROOT)
    from bucket_to_bigquery_spark.session import get_spark

    s = get_spark("perfbench-tests")
    yield s
    harness.stop_session(s)


@pytest.fixture()
def loaded(spark, tmp_path):
    """Two drops (the second one expanded) loaded through the event path."""
    from bucket_to_bigquery_spark.ingest import BatchLoader, events_to_candidates

    from perfbench.workloads import ingest_drops

    landing = str(tmp_path / "landing")
    loader = BatchLoader(spark, str(tmp_path / "wh"))
    task = ingest_drops.manifest(landing, "sensors").tasks[0]
    expected, files = {}, {}
    for d in (0, 1):
        files[d], expected[d] = gen.write_drop(landing, 1, d, 2, 100, expanded=d == 1)
        cands = events_to_candidates(spark, gen.drop_envelopes(landing, files[d], 1, d),
                                     uri_format=ingest_drops.URI_FORMAT)
        assert cands == sorted(files[d])
        loader.run(ingest_drops.manifest(landing, "sensors"), candidate_files=cands)
    assert ingest_drops.check_table(loader, task, expected, files) == {}
    for d in (0, 1):
        got, _ = ingest_drops.view_query(loader, task, d)
        assert got == (expected[d]["rows"], expected[d]["local_ts_sum"])
    return loader, task, expected, files


def test_dropped_row_fails_the_table_check(loaded, tmp_path):
    import pyarrow.parquet as pq

    from perfbench.workloads import ingest_drops

    loader, task, expected, files = loaded
    victim = next(os.path.join(dp, f) for dp, _, fs in os.walk(str(tmp_path / "wh"))
                  for f in sorted(fs) if f.endswith(".parquet") and "/data/" in dp)
    t = pq.read_table(victim)
    pq.write_table(t.slice(1), victim, use_deprecated_int96_timestamps=True)  # as Spark wrote it
    problems = ingest_drops.check_table(loader, task, expected, files)
    assert problems and all("values differ" in p for p in problems.values())


def test_doubled_audit_entry_fails_the_table_check(loaded):
    from perfbench.workloads import ingest_drops

    loader, task, expected, files = loaded
    loader.store_as_imported(task, [files[1][0]])
    problems = ingest_drops.check_table(loader, task, expected, files)
    assert list(problems) == [1] and "audit counts" in problems[1]


# -- the command -----------------------------------------------------------------

def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for workload in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=tmp_path, capture_output=True, text=True, timeout=120)
        assert proc.returncode != 0 and proc.stdout == ""
