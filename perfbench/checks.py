"""Output checks that need the generator's knowledge or a second engine.

catalog_outputs  each warm-round query output against its oracle SQL run in
                 DuckDB on the same generated tables (row count and an
                 order-insensitive comparison of the sorted rows); queries
                 without an oracle are checked for a non-empty output.
medallion_counts the warm round's table counts against the generator's
                 manifest of what each drop planted.
"""
import glob
import json

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def catalog_outputs(tables_dir, out_dir, queries):
    """[(name, ok, detail)] for each query."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    res = []
    for q in queries:
        files = glob.glob(f"{out_dir}/{q}/*.parquet")
        if not files:
            res.append((f"output_{q}", False, "no output written"))
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{q}/*.parquet')").df()
            if q not in oracle:
                res.append((f"output_{q}", len(got) > 0, f"{len(got)} rows, no oracle"))
                continue
            exp = con.sql(oracle[q]).df()
        except duckdb.Error as e:
            res.append((f"output_{q}", False, str(e).split("\n")[0][:200]))
            continue
        res.append((f"output_{q}",) + _same(exp, got, pd))
    return res


def _same(exp, got, pd):
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        return False, f"columns {list(got.columns)} != oracle {list(exp.columns)}"
    if len(exp) != len(got):
        return False, f"{len(got)} rows != oracle {len(exp)}"
    cols = list(exp.columns)
    try:
        exp_s = exp.sort_values(by=cols).reset_index(drop=True)
        got_s = got.sort_values(by=cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(exp_s, got_s, check_dtype=False, check_exact=True)
    except (AssertionError, TypeError) as e:
        return False, str(e).split("\n")[0][:200]
    return True, f"{len(got)} rows match the oracle"


def medallion_counts(manifest, counters):
    """[(name, ok, detail)] for the drops the warm round landed: SCD2
    expired/inserted per drop summed over the three silver tables, and the
    fact's exactly-once row accounting."""
    landed = len(counters["check.scd2.customers"])
    drops = manifest["drops"][:landed]
    res = []
    per_table = [counters[f"check.scd2.{t}"] for t in ("customers", "accounts", "transactions")]
    for d in drops:
        b = d["batch"]
        expired = sum(t[b][0] for t in per_table)
        inserted = sum(t[b][1] for t in per_table)
        ok = expired == d["scd2_expired"] and inserted == d["scd2_inserted"]
        res.append((f"scd2_counts_drop{b:03d}", ok,
                    f"expired {expired}/{d['scd2_expired']} inserted {inserted}/{d['scd2_inserted']}"))
    clean = sum(d["txn_clean"] for d in drops)
    rows, distinct = counters["check.fact_rows"], counters["check.fact_distinct_txn"]
    nulls = counters["check.fact_null_customer"]
    res.append(("fact_clean_txn_exactly_once", rows == clean and distinct == clean and nulls == 0,
                f"fact rows {rows}, distinct {distinct}, clean txns {clean}, null customer FK {nulls}"))
    return res

