"""Seeded benchmark inputs and their expected results.

Everything here runs before any timer starts.  Inputs are cached in the
benchmark's data directory, keyed by everything that determines them,
so a second run with the same seed reuses both the files and the oracle.

* Token units: the seed selects the row window ``[seed*N, (seed+1)*N)``
  of the counter-based generator (``sneller_spark.datagen.generate_chunk``),
  so every seed has the same distribution but different rows.  The
  window is split into equal unit files, one per ``run_pipeline`` unit.
  The expected results come from the pandas oracle
  (``sneller_spark.oracle.run_oracle``), run per unit in a process pool
  and summed: parse, enrich and route are row-local and the aggregates
  are counts and sums, so the per-unit results add up exactly.
* Query tables: the ten TPC-H-like tables the headline catalog queries
  read, drawn from ``numpy.random.default_rng(seed)`` with the column
  types and value ranges of the repository's test data.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# cached input sets kept per kind; older ones are deleted so the cache
# stays a few hundred MB however many seeds are run
KEEP = 4
UNITS = 4  # unit files the token rows are split into


def _publish(tmp: str, final: str) -> None:
    """Atomically expose a fully written cache directory."""
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)


def _touch_and_prune(final: str) -> None:
    """Mark ``final`` as just used; delete all but the KEEP most recently
    used cache directories of the same kind."""
    os.utime(final)
    parent, kind = os.path.dirname(final), os.path.basename(final).split("-", 1)[0]
    dirs = [os.path.join(parent, d) for d in os.listdir(parent)
            if d.startswith(f"{kind}-") and ".tmp-" not in d]
    for old in sorted(dirs, key=os.path.getmtime, reverse=True)[KEEP:]:
        shutil.rmtree(old, ignore_errors=True)


# ---------------------------------------------------------------------
# token units + pandas oracle
# ---------------------------------------------------------------------


def _unit_with_oracle(lo: int, hi: int, path: str) -> tuple[list, dict]:
    """Write rows [lo, hi) as one unit file; return its oracle result as
    (aggregate rows, routed rows per sink)."""
    from sneller_spark.datagen import generate_chunk
    from sneller_spark.oracle import run_oracle

    pdf = generate_chunk(lo, hi)
    pdf.to_parquet(path, index=False)
    routed, agg = run_oracle(pdf)
    rows = [
        [r.sink_id, r.source, None if pd.isna(r.level) else str(r.level),
         int(r.n_rows), int(r.sum_n_tok)]
        for r in agg.itertuples(index=False)
    ]
    per_sink = {str(k): int(v) for k, v in routed["sink_id"].value_counts().items()}
    return rows, per_sink


def token_units(data_dir: str, seed: int, rows: int, procs: int) -> dict:
    """Return {"dir", "files", "rows", "bytes", "expected"} for the seed's
    row window, generating and running the oracle on a cache miss."""
    final = os.path.join(data_dir, f"tokens-s{seed}-n{rows}")
    meta_path = os.path.join(final, "oracle.json")
    if not os.path.exists(meta_path):
        tmp = f"{final}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "input"))
        base = seed * rows
        bounds = [base + rows * k // UNITS for k in range(UNITS + 1)]
        jobs = [
            (bounds[k], bounds[k + 1], os.path.join(tmp, "input", f"unit-{k:02d}.parquet"))
            for k in range(UNITS)
        ]
        ctx = multiprocessing.get_context("spawn")
        try:
            with ctx.Pool(min(procs, UNITS)) as pool:
                parts = pool.starmap(_unit_with_oracle, jobs)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        totals: dict[tuple, list[int]] = {}
        per_sink: dict[str, int] = {}
        for agg_rows, sinks in parts:
            for sink, source, level, n, s in agg_rows:
                acc = totals.setdefault((sink, source, level), [0, 0])
                acc[0] += n
                acc[1] += s
            for k, v in sinks.items():
                per_sink[k] = per_sink.get(k, 0) + v
        expected = {
            "rows": rows,
            "aggregates": sorted(([*k, *v] for k, v in totals.items()), key=str),
            "routed_per_sink": per_sink,
        }
        with open(os.path.join(tmp, "oracle.json"), "w") as f:
            json.dump(expected, f)
        _publish(tmp, final)
    _touch_and_prune(final)
    with open(meta_path) as f:
        expected = json.load(f)
    in_dir = os.path.join(final, "input")
    files = sorted(os.path.join(in_dir, f) for f in os.listdir(in_dir))
    return {
        "dir": in_dir,
        "files": files,
        "rows": rows,
        "bytes": sum(os.path.getsize(f) for f in files),
        "expected": expected,
    }


def aggregate_key(rows) -> list[tuple]:
    """Canonical form of per-sink aggregate rows (Spark Rows or oracle
    lists, both in sink_id, source, level, n_rows, sum_n_tok order): the
    sorted list of (sink_id, source, level, n_rows, sum_n_tok), so a
    duplicated group never compares equal."""
    return sorted(((sink, source, level, int(n), int(s)) for sink, source, level, n, s in rows),
                  key=str)


# ---------------------------------------------------------------------
# query tables
# ---------------------------------------------------------------------

QUERY_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_WORDS = (
    "a the key agg row scan slow fast table value part hash batch window "
    "spark order data column join small line customer query filter group "
    "big sort merge vector stream"
).split()


def _days(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _query_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_doc = int(50_000 * scale)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def table(cols: dict) -> pa.Table:
        return pa.table({k: pa.array(v, type=t) for k, (v, t) in cols.items()})

    t = {}
    t["region"] = table({
        "r_regionkey": (np.arange(5), i32),
        "r_name": (["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s),
    })
    t["nation"] = table({
        "n_nationkey": (np.arange(25), i32),
        "n_name": ([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": (np.arange(25) % 5, i32),
    })
    t["customer"] = table({
        "c_custkey": (np.arange(n_cust), i64),
        "c_name": ([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": (rng.integers(0, 25, n_cust), i32),
        "c_acctbal": (_money(rng, n_cust, -999.99, 9999.99), f64),
        "c_mktsegment": (rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust), s),
    })
    t["supplier"] = table({
        "s_suppkey": (np.arange(n_supp), i64),
        "s_name": ([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": (rng.integers(0, 25, n_supp), i32),
        "s_acctbal": (_money(rng, n_supp, -999.99, 9999.99), f64),
    })
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = table({
        "p_partkey": (np.arange(n_part), i64),
        "p_name": ([f"{adjectives[a]} {nouns[b]}" for a, b in
                    zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], s),
        "p_brand": ([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": (rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part), s),
        "p_size": (rng.integers(1, 51, n_part), i32),
        "p_retailprice": (900.0 + (np.arange(n_part) % 1000) / 10.0, f64),
    })
    t["orders"] = table({
        "o_orderkey": (np.arange(n_ord), i64),
        "o_custkey": (rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": (rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": (_money(rng, n_ord, 1000.0, 500_000.0), f64),
        "o_orderdate": (_days(rng, n_ord, "1995-01-01", "2001-08-01"), ts),
        "o_orderpriority": (rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord), s),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = table({
        "l_orderkey": (rng.integers(0, n_ord, n_line), i64),
        "l_partkey": (rng.integers(0, n_part, n_line), i64),
        "l_suppkey": (rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": (rng.integers(1, 8, n_line), i32),
        "l_quantity": (qty, f64),
        "l_extendedprice": (np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2), f64),
        "l_discount": (rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": (rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": (rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": (rng.choice(["F", "O"], n_line), s),
        "l_shipdate": (_days(rng, n_line, "1995-01-02", "2001-11-04"), ts),
    })
    start = np.datetime64("2024-01-01", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = table({
        "event_id": (np.arange(n_ev), i64),
        "ts": (start + offs.astype("timedelta64[us]"), ts),
        "user_id": (rng.integers(0, max(1, n_ev * 3 // 200), n_ev), i64),
        "event_type": (rng.choice(["click", "error", "purchase", "signup", "view"], n_ev), s),
        "value": (np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": ([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s),
    })
    words = np.array(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(8, 100, n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):  # near-duplicate markers
        texts[i] += " dup"
    for i in np.flatnonzero(rng.random(n_doc) < 0.002):  # exact duplicates
        texts[i] = texts[int(rng.integers(0, n_doc))]
    t["documents"] = table({
        "doc_id": (np.arange(n_doc), i64),
        "text": (texts, s),
        "lang": (rng.choice(["en", "zh", "es", "fr", "de"], n_doc,
                            p=[0.41, 0.15, 0.15, 0.15, 0.14]), s),
        "source": ([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": ([len(x) for x in texts], i64),
    })
    vec = rng.standard_normal((n_doc, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = table({
        "vec_id": (np.arange(n_doc), i64),
        "embedding": (list(vec), pa.list_(pa.float32())),
        "label": (rng.integers(0, 10, n_doc), i32),
    })
    return t


def query_tables(data_dir: str, seed: int, scale: float) -> dict:
    """Return {"dir", "bytes"} of the seed's query tables, one parquet
    file per table, generating them on a cache miss."""
    final = os.path.join(data_dir, f"tables-s{seed}-sf{scale:g}")
    if not os.path.exists(os.path.join(final, "_SUCCESS")):
        tmp = f"{final}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for name, tab in _query_tables(seed, scale).items():
            pq.write_table(tab, os.path.join(tmp, f"{name}.parquet"))
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        _publish(tmp, final)
    _touch_and_prune(final)
    return {
        "dir": final,
        "bytes": sum(os.path.getsize(os.path.join(final, f"{n}.parquet")) for n in QUERY_TABLES),
    }
