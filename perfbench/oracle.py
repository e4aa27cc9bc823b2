"""DuckDB oracle check for query_mix: runs each query's oracle SQL over the
generated tables and compares it with the result Spark wrote, with the
canonicalisation of scripts/selfcheck.py (columns sorted by name, rows
sorted on their string form, values and pandas dtypes compared, floats
within 1e-9 relative when everything else matches)."""
import json
import os

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True,
                          key=lambda s: s.astype(str))


def floats_close(got, want):
    is_f = {c: str(got[c].dtype).startswith("float") for c in got.columns}
    keys = [c for c in got.columns if not is_f[c]]
    if keys:  # canon sorted on float strings too; redo on the other keys
        got = got.sort_values(keys, ignore_index=True,
                              key=lambda s: s.astype(str))
        want = want.sort_values(keys, ignore_index=True,
                                key=lambda s: s.astype(str))
    for c in got.columns:
        if is_f[c]:
            if not np.allclose(got[c], want[c], rtol=1e-9, atol=1e-12,
                               equal_nan=True):
                return False
        elif not got[c].astype(str).equals(want[c].astype(str)):
            return False
    return True


def compare(got, want):
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if got.shape != want.shape:
        return f"shape {got.shape} vs {want.shape}"
    if [str(t) for t in got.dtypes] != [str(t) for t in want.dtypes]:
        return (f"dtypes {list(map(str, got.dtypes))} vs "
                f"{list(map(str, want.dtypes))}")
    if got.astype(str).equals(want.astype(str)) or floats_close(got, want):
        return None
    return "values differ"


def check(tables_dir, results_dir):
    """({query name: "PASS" or the reason it failed}, {query name: (got,
    want)} of the results that could be read). Queries with the same
    oracle SQL share one DuckDB run of it."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{tables_dir}/{t}.parquet'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    verdicts, frames, wants = {}, {}, {}
    for name, sql in sorted(sqls.items()):
        try:
            got = canon(con.execute(
                f"SELECT * FROM '{results_dir}/{name}/*.parquet'").fetchdf())
            if sql not in wants:
                wants[sql] = canon(con.execute(sql).fetchdf())
            frames[name] = (got, wants[sql])
            why = compare(got, wants[sql])
            verdicts[name] = "PASS" if why is None else f"FAIL {why}"
        except Exception as e:  # noqa: BLE001 - any error fails the query
            verdicts[name] = f"ERROR {e}"
    con.close()
    return verdicts, frames


def pair_recall(got, want, bands, rows):
    """Compares a near-duplicate pair result (a_id, b_id, jac) with its
    exact oracle pair set: the pairs it missed, the pairs it returned
    that the oracle lacks or scores differently, and the number of misses
    a MinHash LSH of `bands` x `rows` with independent hash functions
    would expect, the sum over exact pairs of (1 - jac^rows)^bands."""
    def pairs(df):
        return {(int(a), int(b)): float(j)
                for a, b, j in zip(df["a_id"], df["b_id"], df["jac"])}
    got_jac, want_jac = pairs(got), pairs(want)
    return {
        "exact_pairs": len(want_jac),
        "returned": len(got_jac),
        "missed": sorted([a, b, j] for (a, b), j in want_jac.items()
                         if (a, b) not in got_jac),
        "wrong": sorted([a, b, j] for (a, b), j in got_jac.items()
                        if want_jac.get((a, b)) != j),
        "ideal_missed": sum((1 - j ** rows) ** bands for j in want_jac.values()),
    }
