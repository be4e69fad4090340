#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate (NOT part of the library).

Usage: python3 tools/selfcheck.py <sfDir> <verifyOutDir>

Loads each <outDir>/<name> parquet produced by graft.Verify, runs the matching
oracle SQL from <outDir>/oracle_sql.json in DuckDB over the same sf tables,
sorts columns by name / rows by value, and compares.
"""
import json
import math
import os
import re
import sys

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = f"{v:.6f}"
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def hive_partition_pins(path):
    """Partition keys under path whose DuckDB type should be PINNED.
    Spark writes partition VALUES as strings and both engines re-infer a
    type on read; the two inferences can disagree (DuckDB hive
    autodetection vs Spark partitionColumnTypeInference), which would trip
    the dtype-kind gate or join semantics. Pin the one shape the repo's
    Spark writers produce - integral values (cell=N) -> BIGINT (Spark
    reads them as an int kind too); leave anything else to autodetection
    rather than invent a pin Spark might not share (r18 advice)."""
    keys = {}
    for root, dirs, _ in os.walk(path):
        for d in dirs:
            if "=" in d:
                k, v = d.split("=", 1)
                keys.setdefault(k, set()).add(v)
    # strict digit shape, NOT int(): Python's int() also accepts
    # underscores, a leading '+', surrounding whitespace and non-ASCII
    # digits - values DuckDB's BIGINT hive cast would reject or Spark
    # would infer differently, the exact divergence the pin prevents
    integral = re.compile(r"^-?[0-9]+$")
    return {k: "BIGINT" for k, vs in keys.items()
            if all(integral.match(v) for v in vs)}


def connect_views(sf_dir):
    """One DuckDB connection with a view per fixture table (shared with
    tools/oracletime.py so the table list cannot drift between them).
    Handles both layouts: the sf fixtures' single-file tables and the
    directory-of-parts tables every Spark writer produces (ScaleStress
    corpora) - the r17 x10 gate needed glob views for the latter."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        # paths land inside SQL string literals: double any single quote
        q = p.replace("'", "''")
        if os.path.isdir(p):
            # recursive glob + hive_partitioning so a partition-written
            # table (cell=N/... subdirs) reads whole, not just the flat
            # part files its root happens to hold; integral partition-key
            # types pinned instead of autodetected
            pins = hive_partition_pins(p)
            hive_types = ""
            if pins:
                inner = ", ".join(
                    f"'{k}': {ty}" for k, ty in sorted(pins.items()))
                hive_types = f", hive_types={{{inner}}}"
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{q}/**/*.parquet', hive_partitioning=true"
                f"{hive_types})")
        elif os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{q}')")
    return con


def main(sf_dir, out_dir):
    con = connect_views(sf_dir)
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    names = sorted(
        d for d in os.listdir(out_dir)
        if os.path.isdir(os.path.join(out_dir, d)))
    # Honor graft.Verify's SPARK_GRAFT_ONLY filter so a single-query local
    # iteration doesn't report every other oracle as FAIL-MISSING. The
    # driver never sets it, so the gate still checks all.
    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only:
        keep = set(only.split(","))
        oracles = {k: v for k, v in oracles.items() if k in keep}
        names = [n for n in names if n in keep]
    n_pass = n_fail = n_noora = 0
    # A query that crashed inside graft.Verify produces no output dir; count
    # every oracle key with no dir as a failure so crashes can't read as green.
    for missing in sorted(set(oracles) - set(names)):
        print(f"  [FAIL-MISSING] {missing}: no verify output written")
        n_fail += 1
    for name in names:
        qname = os.path.join(out_dir, name).replace("'", "''")
        got = con.sql(f"SELECT * FROM read_parquet('{qname}/*.parquet')")
        # The driver's compare sorts rows via pandas, which cannot hash
        # array cells — an array-typed output column WILL crash it even
        # though this script could stringify it. Mirror the restriction.
        arrayish = [c for c, t in zip(got.columns, got.types)
                    if "[]" in str(t) or "STRUCT" in str(t) or "MAP" in str(t)]
        if arrayish:
            print(f"  [FAIL-ARRAYCOL] {name}: driver-unhashable columns {arrayish}")
            n_fail += 1
            continue
        grows, gcols = got.fetchall(), [c for c in got.columns]
        if name not in oracles:
            print(f"  [rows-only] {name}: {len(grows)} rows")
            n_noora += 1
            continue
        try:
            want = con.sql(oracles[name])
            wrows, wcols = want.fetchall(), [c for c in want.columns]
        except Exception as e:
            print(f"  [FAIL-ORACLE] {name}: {e}")
            n_fail += 1
            continue
        if sorted(gcols) != sorted(wcols):
            print(f"  [FAIL-SCHEMA] {name}: spark={sorted(gcols)} duckdb={sorted(wcols)}")
            n_fail += 1
            continue
        # Dtype parity — the driver hashes PANDAS values, so a DuckDB
        # HUGEINT (sum(), // division) arriving as float64 hashes
        # "121543.0" against Spark's int64 "121543" and fails the driver
        # even when canon() above string-matches. Compare dtype KIND
        # (int vs float vs object...) per column; width differences
        # (int32 vs int64) render identically and are fine.
        gdt = {c: d.kind for c, d in
               con.sql(f"SELECT * FROM read_parquet('{qname}/*.parquet')")
               .df().dtypes.items()}
        wdt = {c: d.kind for c, d in con.sql(oracles[name]).df().dtypes.items()}
        kind_bad = [c for c in gdt if gdt[c] != wdt[c]]
        if kind_bad:
            print(f"  [FAIL-DTYPE] {name}: " + ", ".join(
                f"{c}: spark={gdt[c]} duckdb={wdt[c]}" for c in kind_bad)
                + " (cast the oracle output, e.g. CAST(sum(...) AS BIGINT))")
            n_fail += 1
            continue
        g, w = canon(grows, gcols), canon(wrows, wcols)
        if g == w:
            print(f"  [PASS] {name}: {len(g)} rows")
            n_pass += 1
        else:
            print(f"  [FAIL-DATA] {name}: spark {len(g)} rows vs duckdb {len(w)}")
            diff = [(a, b) for a, b in zip(g, w) if a != b][:3]
            for a, b in diff:
                print(f"     spark : {a}\n     duckdb: {b}")
            n_fail += 1
    print(f"PASS={n_pass} FAIL={n_fail} ROWS_ONLY={n_noora}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
