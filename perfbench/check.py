"""Output checks of the benchmark.

Query workloads: each entry's warm-round result is compared with
`SparkEntry.oracleSql` run in DuckDB over the same parquet tables, using
the canonical form of tools/compare.py (columns sorted by name, rows sorted
by every column, cell-wise compare with string fallback, equal dtypes).

Medallion: the end state must match what the postings generator derives
from its own inputs.
"""
import math
import os
import pickle
from datetime import timezone

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents".split()


def _connect(data_dir=None):
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET memory_limit='3GB'")
    if data_dir:
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)


def compute_oracles(sqls, data_dir, out_dir):
    """Run each oracle once and keep its canonical frame (pickled)."""
    os.makedirs(out_dir, exist_ok=True)
    con = None
    for name, sql in sqls.items():
        path = os.path.join(out_dir, f"{name}.pkl")
        if os.path.exists(path):
            continue
        con = con or _connect(data_dir)
        exp = None if sql is None else canon(con.sql(sql).df())
        with open(path + ".tmp", "wb") as f:
            pickle.dump(exp, f)
        os.replace(path + ".tmp", path)


def differ(got, exp):
    """None when equal, else a one-line reason."""
    g, e = canon(got), exp
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs oracle {list(e.columns)}"
    if len(g) != len(e):
        return f"{len(g)} rows vs oracle {len(e)}"
    for c in g.columns:
        for i, (a, b) in enumerate(zip(g[c].tolist(), e[c].tolist())):
            if a != b and not (a is None and b is None) and str(a) != str(b):
                if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
                    continue
                return f"column {c} row {i}: {a!r} != oracle {b!r}"
    bad = [(c, str(g[c].dtype), str(e[c].dtype)) for c in g.columns if g[c].dtype != e[c].dtype]
    if bad:
        return f"dtypes differ from the oracle: {bad}"
    return None


def against_oracles(entries, oracle_dir, out_dir):
    """{entry: reason} for every entry whose warm result fails its oracle."""
    con = _connect()
    wrong = {}
    for e in entries:
        d = os.path.join(out_dir, e)
        with open(os.path.join(oracle_dir, f"{e}.pkl"), "rb") as f:
            exp = pickle.load(f)
        if not os.path.isdir(d):
            wrong[e] = "no warm-round output (the entry failed before any timed run)"
            continue
        if exp is None:
            wrong[e] = "no oracle SQL for this entry"
            continue
        why = differ(con.sql(f"SELECT * FROM '{d}/*.parquet'").df(), exp)
        if why:
            wrong[e] = "oracle mismatch: " + why
    return wrong


def _ms(t):
    return int(t.replace(tzinfo=timezone.utc).timestamp() * 1000)


def medallion(gen, n_done, facts, work):
    """[(check, reason)] of failed end-state checks, and how many ran."""
    admitted, current, gold, closed = gen.expect(n_done)
    bad = []
    for name in ("bronze_rows", "meta_rows", "silver_rows"):
        if facts.get(name) != admitted:
            bad.append((name, f"{facts.get(name)} rows, expected {admitted} admitted"))
    con = _connect()
    got = {pid: (c, s, ms) for pid, c, s, ms in con.sql(
        "SELECT posting_id, raw_content, source, epoch_ms(extracted_at) "
        f"FROM '{work}/out/silver_current/*.parquet'").fetchall()}
    want = {pid: (c, s, _ms(w)) for pid, (c, s, w) in current.items()}
    if got != want:
        diff = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
        bad.append(("silver_current", f"{len(diff)} of {len(want)} keys differ from "
                    f"last-write-wins, e.g. {sorted(diff)[:3]}"))
    rows = con.sql("SELECT source, epoch_ms(hour), n_postings, total_chars "
                   f"FROM '{work}/out/gold/*.parquet'").fetchall()
    emitted = {(s, h): (n, c) for s, h, n, c in rows}
    want_gold = {(s, _ms(h)): tuple(v) for (s, h), v in gold.items()}
    wrong = [k for k in emitted if emitted[k] != want_gold.get(k)]
    if wrong or len(emitted) != len(rows):
        bad.append(("gold_counts", f"{len(wrong)} emitted (source, hour) rows differ, "
                    f"e.g. {[(k, emitted[k], want_gold.get(k)) for k in sorted(wrong)[:2]]}"))
    missing = [k for k in closed if (k[0], _ms(k[1])) not in emitted]
    if missing:
        bad.append(("gold_closed", f"{len(missing)} closed hours missing from gold"))
    return bad, 6
