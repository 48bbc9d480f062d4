"""The ``battery`` workload: the ``queries.py`` operator set, each checked
against its ``ORACLE_SQL`` in DuckDB.

The tables are generated here from the workload seed, with the schema
and row counts of the repository's sf0.01 test tables (TPC-H-like star
schema, an ``events`` stream, ``documents`` with near-duplicate and
shared-span texts, ``embeddings``).  The benchmark reads nothing outside
its own checkout, where those fixed seed-42 tables do not live.

The query set is ``bench.py``'s ``BENCH_QUERIES`` (less
``ann_cosine_topk``, see ``QUERY_SET``) plus ``seq_pack`` and
``contamination``.  Set-up generates the tables (parquet files).  The
timed window then runs the whole set in a fresh Spark application until
``--seconds`` have passed (one pass at the benchmark's run length): the
first pass includes plan compilation and JIT warm-up, as a batch job of
this size pays them.  A warm second pass would not fit the run budget.
The first pass's results are checked against DuckDB after the timed
window, and every later pass must return the same rows.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np
import pandas as pd

from perfbench import host
from perfbench.stats import timing_summary

# ``ann_cosine_topk`` is left out: its Spark plan and its DuckDB oracle
# quantize float32 coordinates differently when ``x * 1000`` lands on a
# rounding half (seed 603: vector 0, coordinate 48), so their top-10
# disagree on about one seed in forty.  It returns once they agree.
QUERY_SET = (
    "tpch_pricing", "revenue_by_nation", "frontier_rank", "windowed_counters",
    "sessionize", "dedup_exact", "dedup_minhash", "dedup_simhash", "token_count",
    "quality_score", "crawl_reachability", "pagerank", "repetition_ratio",
    "dup_spans", "seq_pack", "contamination",
)
SETUP_REPS = 5
MIN_PASSES = 1
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}
WORDS = ("a the data table row column key value join hash merge sort scan filter "
         "group agg window stream batch spark query order line part customer "
         "small big fast slow vector").split()
LANGS, LANG_P = ["en", "zh", "es", "de", "fr"], [0.44, 0.15, 0.15, 0.14, 0.12]
EPOCH_1992 = np.datetime64("1992-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400 * 1_000_000


def _days(rng, n: int, lo: int, hi: int) -> np.ndarray:
    return EPOCH_1992 + rng.integers(lo, hi, n) * np.timedelta64(1, "D")


def _documents(rng, n: int) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.08:  # near-duplicate of an earlier doc
            words = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = WORDS[rng.integers(0, len(WORDS))]
            words.append("dup")
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), rng.integers(8, 90))]
            if i > 10 and r < 0.14:  # shares a verbatim span with an earlier doc
                src = texts[rng.integers(0, i)].split()
                at = rng.integers(0, max(len(src) - 12, 1))
                words[len(words) // 2:len(words) // 2] = src[at:at + 12]
        texts.append(" ".join(words))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def generate(seed: int, out: str) -> dict[str, str]:
    """Write every table as ``<out>/<name>.parquet``; return name -> path."""
    rng = np.random.default_rng(seed % 2**63)  # numpy seeds must be >= 0
    n = ROWS
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)  # noqa: E731
    tables = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n["customer"], dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype("int32"),
            "c_acctbal": money(-999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n["customer"]),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n["supplier"], dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype("int32"),
            "s_acctbal": money(-999.99, 9999.99, n["supplier"]),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n["part"], dtype="int64"),
            "p_name": [" ".join(rng.choice(["small", "large", "ring", "bolt", "steel", "brass"], 2))
                       for _ in range(n["part"])],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 6, n["part"])],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL"], n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype("int32"),
            "p_retailprice": np.round(rng.integers(900, 2000, n["part"]).astype(float), 2),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n["orders"], dtype="int64"),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": money(1000, 500000, n["orders"]),
            "o_orderdate": _days(rng, n["orders"], 0, 2557),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n["orders"]),
        }),
    }
    qty = rng.integers(1, 51, n["lineitem"]).astype(float)
    tables["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]).astype("int64"),
        "l_partkey": rng.integers(0, n["part"], n["lineitem"]).astype("int64"),
        "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n["lineitem"]), 2),
        "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
        "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
        "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
        "l_shipdate": _days(rng, n["lineitem"], 0, 3000),
    })
    ne = n["events"]
    tables["events"] = pd.DataFrame({
        "event_id": np.arange(ne, dtype="int64"),
        "ts": EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, ne)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, ne).astype("int64"),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], ne),
        "value": money(0, 50, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    tables["documents"] = _documents(rng, n["documents"])
    vecs = rng.normal(size=(n["embeddings"], 64)).astype("float32")
    tables["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n["embeddings"], dtype="int64"),
        "embedding": list(vecs / np.linalg.norm(vecs, axis=1, keepdims=True)),
        "label": rng.integers(0, 10, n["embeddings"]).astype("int32"),
    })
    os.makedirs(out, exist_ok=True)
    paths = {}
    for name, df in tables.items():
        paths[name] = os.path.join(out, f"{name}.parquet")
        df.to_parquet(paths[name], index=False)
    return paths


# -- order-insensitive comparison (as tools/check_oracle.py does) ----------
def _cell(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    return str(v)


def normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def oracle(paths: dict[str, str]) -> dict[str, tuple]:
    import duckdb

    from crawler_pyspider_spark.queries import ORACLE_SQL

    con = duckdb.connect()
    try:
        for name, path in paths.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for q in QUERY_SET:
            cur = con.execute(ORACLE_SQL[q])
            out[q] = normalize([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def run(spark, cores: int, seed: int, seconds: float, tracer, work: str) -> dict:
    from crawler_pyspider_spark.queries import QUERIES, release_caches

    setups, sf_dir = [], None
    for rep in range(SETUP_REPS):
        with tracer.span("setup", rep=rep):
            t = time.monotonic()
            sf_dir = os.path.join(work, f"tables{rep}")
            paths = generate(seed, sf_dir)
            setups.append(time.monotonic() - t)

    def execute(q: str):
        df = QUERIES[q](spark, sf_dir)
        rows = [tuple(r) for r in df.collect()]
        release_caches()
        return normalize(df.columns, rows)

    per_query: dict[str, list[float]] = {q: [] for q in QUERY_SET}
    first: dict[str, tuple] = {}
    passes, windows, mismatched = [], [], set()
    t_run = time.monotonic()
    while len(passes) < MIN_PASSES or time.monotonic() - t_run < seconds:
        t_pass = time.monotonic()
        with tracer.span("pass", n=len(passes)):
            for q in QUERY_SET:
                with tracer.span(f"query.{q}"):
                    w0 = time.time() * 1e3
                    t = time.monotonic()
                    got = execute(q)
                    per_query[q].append(time.monotonic() - t)
                    windows.append((w0, time.time() * 1e3))
                if first.setdefault(q, got) != got:
                    mismatched.add(q)
        passes.append(time.monotonic() - t_pass)
    t_timed = time.monotonic() - t_run

    expected = oracle(paths)
    notes = []
    for q in QUERY_SET:
        if first[q] != expected[q]:
            mismatched.add(q)
            notes.append(
                f"{q}: spark result ({len(first[q][1])} rows) != duckdb "
                f"({len(expected[q][1])} rows)")
        elif q in mismatched:
            notes.append(f"{q}: a later pass differs from the first")
    rss = host.peak_rss_mb(spark)
    report = {
        "e2e": {"setup_s": statistics.median(setups), "work_s": t_timed},
        "reported": {
            "battery_s": {"value": statistics.median(passes), "unit": "s"},
            "query_s_p50": {
                "value": statistics.median(v for q in QUERY_SET for v in per_query[q]),
                "unit": "s",
            },
            "peak_rss_mb": {"value": rss["total"], "unit": "MB"},
        },
        "detail": {
            "passes": len(passes),
            "query_s": {q: timing_summary(v) for q, v in per_query.items()},
            "setup_reps_s": setups,
            "rss_mb": rss,
        },
        "counts": {q: len(first[q][1]) for q in QUERY_SET},
        "attempted": len(QUERY_SET) * len(passes),
        "failed": len(mismatched) * len(passes),
        "notes": notes,
        "windows": windows,
    }
    if tracer.enabled:
        report["layer"] = {
            f"queries.{q}_s": statistics.median(v) for q, v in per_query.items()
        }
    return report
