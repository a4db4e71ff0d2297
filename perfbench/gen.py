"""Seeded input generators. The same seed always gives byte-identical files.

- :func:`write_tables` writes the ten analytic tables the query registry
  reads (the TPC-H-like star schema plus events, documents and
  embeddings), with the column names, types and value shapes of the
  registry's test data, scaled by ``sf``.
- :func:`write_drop` writes one drop of sensor CSVs in the FIXTURES A1
  shape (A2 when ``expanded``: a rightmost ``ch_pressure`` column), and
  returns the expected row count and per-column sums;
  :func:`drop_envelopes` gives the drop's OBJECT_FINALIZE notifications,
  ``REDELIVERED`` of them sent twice.
- :func:`write_corpus` writes the base documents table, the planted
  duplicate corpus q54 builds from it, and an S-replica corpus whose
  replicas share no shingle.

Only numpy, pyarrow and DuckDB run here; the program under test
receives nothing but the written files.
"""

from __future__ import annotations

import base64
import json
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Document vocabulary: the 28 content words and 2 stopwords of the
# registry's documents table. Stopwords never follow each other, so every
# window of two or more tokens holds a content word; the replica suffix
# goes on content words only, which keeps every replica through the
# quality gates' stopword check while replicas still share no shingle.
CONTENT_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row agg "
    "key query scan batch"
).split()
STOPWORDS = ("the", "a")
REPLICA_ID_OFFSET = 10_000_000

LOCATIONS = ("perth", "osaka", "stlouis")
UTC_OFFSETS = (9.5, -3.75, 0.0, 8.0, -5.0)
SENSOR_HEADER = ["timestamp", "utc_offset", "location", "ch_temp", "ch_humidity"]
EXPANDED_COLUMN = "ch_pressure"


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo * 100, hi * 100 + 1, n) / 100.0


# -- analytic tables -------------------------------------------------------

def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(CONTENT_WORDS + list(STOPWORDS))
    n_content = len(CONTENT_WORDS)
    lengths = rng.integers(10, 101, n)
    toks = rng.integers(0, len(vocab), int(lengths.sum()))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    stop = toks >= n_content
    # a stopword right after a stopword (within one doc) becomes content
    follow = np.zeros_like(stop)
    follow[1:] = stop[1:] & stop[:-1]
    follow[bounds[:-1]] = False
    toks[follow] = rng.integers(0, n_content, int(follow.sum()))
    words = vocab[toks]
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    langs = np.array(["en", "fr", "zh", "de", "es"])[
        rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    ]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten registry tables at scale ``sf``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = max(int(6_000_000 * sf), 400)
    n_evt = max(int(1_000_000 * sf), 200)
    n_doc = max(int(50_000 * sf), 50)
    n_emb = max(int(20_000 * sf), 50)
    n_users = max(int(15_000 * sf), 20)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = _rng(seed, 1)
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(r, -999, 9999, n_cust),
        "c_mktsegment": np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[r.integers(0, 5, n_cust)],
    })
    r = _rng(seed, 2)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(r, -999, 9999, n_supp),
    })
    r = _rng(seed, 3)
    adj = np.array("small red blue large hot cold old new".split())
    noun = np.array("ring widget bolt gear plate anvil gizmo rod".split())
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n_part)], " "),
                              noun[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
        )[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    r = _rng(seed, 4)
    day = np.datetime64("1995-01-01", "D")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _cents(r, 1000, 500_000, n_ord),
        "o_orderdate": pa.array(
            (day + r.integers(0, 2404, n_ord)).astype("datetime64[us]"),
            pa.timestamp("us"),
        ),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[r.integers(0, 5, n_ord)],
    })
    r = _rng(seed, 5)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(r, 900, 105_000, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": pa.array(
            (day + 1 + r.integers(0, 2498, n_line)).astype("datetime64[us]"),
            pa.timestamp("us"),
        ),
    })
    r = _rng(seed, 6)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(r.integers(0, 30 * 86_400_000_000, n_evt))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_evt), pa.int64()),
        "event_type": np.array(
            ["click", "error", "purchase", "signup", "view"]
        )[r.integers(0, 5, n_evt)],
        "value": np.round(np.minimum(r.exponential(50.0, n_evt), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)],
    })
    t["documents"] = _documents(_rng(seed, 7), n_doc)
    r = _rng(seed, 8)
    emb = r.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), pa.int32()),
    })
    for name, table in t.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}


# -- sensor CSV drops ------------------------------------------------------

DROP_EPOCH = int(datetime(2026, 8, 1, tzinfo=timezone.utc).timestamp())
DROP_SECONDS = 3 * 86_400  # each drop covers its own three days


def write_drop(landing: str, seed: int, drop: int, n_files: int,
               rows_per_file: int, expanded: bool) -> tuple[list[str], dict]:
    """Write drop ``drop`` under ``landing/sensors/YYYY/MM/``.

    Each file's timestamps rise monotonically over the drop's own three
    days, so every file spans three DAY partitions and a row's drop is
    ``(epoch seconds - DROP_EPOCH) // DROP_SECONDS``. Values are whole
    cents, so the expected sums are exact integers (timestamps as epoch
    seconds, floats as cents)."""
    r = _rng(seed, 100, drop)
    n = n_files * rows_per_file
    step = DROP_SECONDS // rows_per_file
    start = DROP_EPOCH + drop * DROP_SECONDS
    base = start + np.arange(rows_per_file) * step
    ts = np.concatenate([base + r.integers(0, step, rows_per_file)
                         for _ in range(n_files)])
    off_i = r.integers(0, len(UTC_OFFSETS), n)
    loc_i = r.integers(0, len(LOCATIONS), n)
    temp = r.integers(-1000, 4501, n)
    hum = r.integers(0, 10_001, n)
    press = r.integers(95_000, 105_001, n) if expanded else None
    ts_txt = [t[:10] + " " + t[11:] for t in
              np.datetime_as_string(ts.astype("datetime64[s]"), unit="s").tolist()]
    off_txt = [repr(UTC_OFFSETS[i]) for i in off_i.tolist()]
    loc_txt = [LOCATIONS[i] for i in loc_i.tolist()]
    cols = [ts_txt, off_txt, loc_txt, _cents_txt(temp), _cents_txt(hum)]
    header = list(SENSOR_HEADER)
    if expanded:
        cols.append(_cents_txt(press))
        header.append(EXPANDED_COLUMN)
    lines = [",".join(row) for row in zip(*cols)]
    day = datetime.fromtimestamp(start, timezone.utc)
    folder = os.path.join(landing, "sensors", f"{day:%Y}", f"{day:%m}")
    os.makedirs(folder, exist_ok=True)
    paths = []
    for f in range(n_files):
        path = os.path.join(folder, f"sensors-{day:%Y%m%d}-d{drop:03d}-f{f:02d}.csv")
        body = "\n".join(lines[f * rows_per_file:(f + 1) * rows_per_file])
        with open(path, "w") as fh:
            fh.write(",".join(header) + "\n" + body + "\n")
        paths.append(path)
    minutes = np.array([round(x * 60) for x in UTC_OFFSETS])[off_i]
    expected = {
        "rows": n,
        "ts_sum": int(ts.sum()),
        # the local_time view: timestamp + round(utc_offset * 60) minutes
        "local_ts_sum": int(ts.sum() + 60 * minutes.sum()),
        "utc_offset_sum_c": int(round(float(np.array(UTC_OFFSETS)[off_i].sum()) * 100)),
        "ch_temp_sum_c": int(temp.sum()),
        "ch_humidity_sum_c": int(hum.sum()),
        "ch_pressure_sum_c": int(press.sum()) if expanded else 0,
        "ch_pressure_rows": n if expanded else 0,
        "ch_pressure_gt_1000": int((press > 100_000).sum()) if expanded else 0,
        **{f"loc_{name}": int((loc_i == i).sum())
           for i, name in enumerate(LOCATIONS)},
    }
    return paths, expected


REDELIVERED = 2  # envelopes per drop sent a second time


def drop_envelopes(landing: str, paths: list[str], seed: int, drop: int) -> list[dict]:
    """PubSub push envelopes announcing ``paths``, in a seeded order, with
    ``REDELIVERED`` seeded ones of them sent twice, so every drop decodes
    the same number of envelopes. ``bucket`` is the landing root and
    ``name`` the path below it, so the URI template ``{bucket}/{name}``
    rebuilds each file's path."""
    r = _rng(seed, 300, drop)
    again = sorted(r.choice(len(paths), REDELIVERED, replace=False).tolist())
    sent = list(paths) + [paths[i] for i in again]
    out = []
    for i in r.permutation(len(sent)):
        name = os.path.relpath(sent[i], landing)
        obj = {"kind": "storage#object", "selfLink": f"sl/{name}",
               "bucket": landing, "name": name}
        out.append({"message": {
            "attributes": {"eventType": "OBJECT_FINALIZE"},
            "data": base64.b64encode(json.dumps(obj).encode()).decode(),
        }})
    return out


def _cents_txt(cents: np.ndarray) -> list[str]:
    return [f"{'-' if c < 0 else ''}{abs(c) // 100}.{abs(c) % 100:02d}"
            for c in cents.tolist()]


# -- the clean_corpus replica corpus ----------------------------------------

def write_corpus(out_dir: str, seed: int, n_docs: int, replicas: int) -> dict:
    """Write ``documents.parquet`` (the base), ``base_corpus.parquet`` (q54's
    planted-duplicate corpus over it, built by the registry's own
    ``CORPUS_SQL``) and, when ``replicas`` > 0, ``corpus_x<S>.parquet``
    (S replicas of the planted corpus). Replica k adds
    ``k * REPLICA_ID_OFFSET`` to every id and the suffix ``_r<k>`` to every
    content word, so replicas share no shingle. The seed permutes the ids
    and the row order of every file."""
    import duckdb

    from bucket_to_bigquery_spark.queries.llm_queries import CORPUS_SQL

    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 200)
    docs = _documents(r, n_docs)
    ids = pa.array(r.permutation(n_docs), pa.int64())
    docs = docs.set_column(0, "doc_id", ids).take(pa.array(r.permutation(n_docs)))
    docs_path = os.path.join(out_dir, "documents.parquet")
    _write(docs, docs_path)

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs_path}'")
        base = con.execute(
            f"SELECT doc_id, text FROM ({CORPUS_SQL}) ORDER BY doc_id"
        ).fetch_arrow_table()
    finally:
        con.close()
    base = base.take(pa.array(r.permutation(base.num_rows)))
    base_path = os.path.join(out_dir, "base_corpus.parquet")
    _write(base, base_path)

    out = {"documents": docs_path, "base": base_path, "base_docs": base.num_rows}
    if not replicas:
        return out
    stop_alt = "|".join(STOPWORDS)
    parts = []
    for k in range(replicas):
        suffixed = pc.replace_substring_regex(base["text"], r"(\S+)", rf"\1_r{k}")
        # stopwords keep their spelling (never adjacent, see CONTENT_WORDS)
        text = pc.replace_substring_regex(
            suffixed, rf"(^| )({stop_alt})_r{k}( |$)", r"\1\2\3")
        parts.append(pa.table({
            "doc_id": pc.add(base["doc_id"], k * REPLICA_ID_OFFSET),
            "text": text,
        }))
    big = pa.concat_tables(parts)
    big = big.take(pa.array(r.permutation(big.num_rows)))
    big_path = os.path.join(out_dir, f"corpus_x{replicas}.parquet")
    # eight row groups, so the CLI's scan splits across the cores
    pq.write_table(big, big_path, compression="snappy",
                   row_group_size=max(1, big.num_rows // 8))
    return {**out, "replicas": big_path, "replica_docs": big.num_rows}
