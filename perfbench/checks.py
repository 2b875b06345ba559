"""Output checks, run after timing, with DuckDB capped at the host's cores.

Each function returns a list of (name, ok, detail) — one per check.
"""
import json
import math
import os

import duckdb
import pandas as pd


def connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    con.execute("SET preserve_insertion_order=false")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _same(a, b) -> bool:
    # strict, as the repo's parity harness: an int 5 and a float 5.0 differ
    fa, fb = isinstance(a, float), isinstance(b, float)
    if fa != fb:
        return False
    if fa:
        return (math.isnan(a) and math.isnan(b)) or repr(a) == repr(b)
    return str(a) == str(b)


def _compare(got: pd.DataFrame, want: pd.DataFrame):
    got, want = _canon(got), _canon(want)
    if list(got.columns) != list(want.columns):
        return False, f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return False, f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        for i, (a, b) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not _same(a, b):
                return False, f"row {i} col {c}: spark={a!r} oracle={b!r}"
    return True, f"{len(got)} rows"


def chain(out_dir: str, events_dir: str, threads: int):
    """q23, q55 and q57 of the last pass against SparkEntry.oracleSql."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = connect(threads)
    con.execute("CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{events_dir}/events.parquet')")
    res = []
    for name, sql in sorted(oracle.items()):
        try:
            ok, detail = _compare(pd.read_parquet(os.path.join(out_dir, name)),
                                  con.execute(sql).fetchdf())
        except Exception as e:  # a failed check counts, it does not abort the run
            ok, detail = False, f"{type(e).__name__}: {e}"
        res.append((name, ok, detail))
    return res


def serve(out_dir: str, threads: int):
    """Streamed score and pred equal ModelStore.loadAndScore on the same patches."""
    con = connect(threads)
    try:
        s = f"read_parquet('{out_dir}/stream_scores/*.parquet')"
        b = f"read_parquet('{out_dir}/batch_scores/*.parquet')"
        n_s, n_b, n_j, n_bad = con.execute(f"""
            SELECT (SELECT count(*) FROM {s}), (SELECT count(*) FROM {b}),
                   count(*), count(*) FILTER (WHERE abs(s.score - b.score) > 1e-9
                                              OR s.pred <> b.pred)
            FROM {s} s JOIN {b} b USING (series, win)""").fetchone()
        ok = n_s == n_b == n_j and n_bad == 0 and n_s > 0
        detail = f"stream {n_s} rows, batch {n_b}, matched {n_j}, differing {n_bad}"
    except Exception as e:
        ok, detail = False, f"{type(e).__name__}: {e}"
    return [("bankScoreStream_vs_loadAndScore", ok, detail)]


def suite(queries, pinned: dict):
    """Per-query row count and order-independent digest against pinned values."""
    res = []
    for q in queries:
        want = pinned.get(q["name"])
        if not q["ok"]:
            res.append((q["name"], False, "query failed"))
        elif want is None:
            res.append((q["name"], False, "no pinned digest"))
        else:
            got = {"rows": q["rows"], "digest": q["digest"]}
            res.append((q["name"], got == want, f"{got} vs pinned {want}"))
    return res
