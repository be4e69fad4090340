"""Oracle checks made after a run: each Spark result the harness wrote out
is compared with its `SparkEntry.oracleSql` twin run by DuckDB over the same
parquet, through tools/selfcheck.py's views and canonical row form (columns
by name, floats at 6 decimals, rows sorted)."""
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))

import selfcheck  # noqa: E402


def digest(rows, cols):
    """(row count, order-insensitive hash) of a result."""
    canon = selfcheck.canon(rows, cols)
    return len(canon), hashlib.sha256(repr(canon).encode()).hexdigest()


def oracle_digests(data_dir, oracle_sql):
    """{name: (rows, hash)} of every oracle over the data directory."""
    con = selfcheck.connect_views(data_dir)
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        rel = con.sql(sql)
        out[name] = digest(rel.fetchall(), list(rel.columns))
    return out


def result_digest(data_dir, out_dir):
    """(rows, hash) of a Spark result written as parquet; (0, hash of
    nothing) when the harness wrote no directory for an empty result."""
    if not os.path.isdir(out_dir):
        return digest([], [])
    con = selfcheck.connect_views(data_dir)
    q = out_dir.replace("'", "''")
    rel = con.sql(f"SELECT * FROM read_parquet('{q}/*.parquet')")
    return digest(rel.fetchall(), list(rel.columns))


def compare(data_dir, checks_dir, subdir):
    """{name: error message} for every oracle the harness asked for whose
    Spark result differs."""
    with open(os.path.join(checks_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    want = oracle_digests(data_dir, sql)
    errors = {}
    for name, (rows, h) in want.items():
        path = os.path.join(checks_dir, subdir, name)
        got_rows, got_h = result_digest(data_dir, path)
        if (got_rows, got_h) != (rows, h):
            errors[name] = (f"spark {got_rows} rows / {got_h[:12]} vs "
                            f"duckdb {rows} rows / {h[:12]}")
    return errors


def stale_prices(clean_dir, prices_tsv, waves):
    """(stale, rows) over the clean rows of re-delivered pages that an
    earlier edition already had, for the first `waves` waves: a row is stale
    when its current price is not one of the latest edition's prices for
    its page."""
    latest = {}
    with open(prices_tsv, encoding="utf-8") as f:
        for line in f:
            w, prov, flyer, page, prices = line.rstrip("\n").split("\t")
            if int(w) < waves:
                latest[(prov, flyer, f"{page}.json")] = \
                    [round(float(x), 2) for x in prices.split(",")]
    if not latest:
        return 0, 0
    import duckdb
    q = clean_dir.replace("'", "''")
    con = duckdb.connect()
    rows = con.sql(
        "SELECT province, date_range, source_file, current_price FROM "
        f"read_parquet('{q}/*/*/*.parquet', hive_partitioning = true)"
    ).fetchall()
    stale = total = 0
    for prov, flyer, src, price in rows:
        want = latest.get((prov, flyer, src))
        if want is not None:
            total += 1
            stale += price is None or round(price, 2) not in want
    return stale, total
