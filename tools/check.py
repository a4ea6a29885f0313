#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB over the sf tables, load the Verify-dumped parquet, compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]
"""
import duckdb, json, math, struct, sys


def is_neg_zero(v):
    return isinstance(v, float) and v == 0.0 and math.copysign(1.0, v) < 0


def byte_equal(a, b):
    """Driver hashes bytes, not values: -0.0 != +0.0 there."""
    if isinstance(a, float) and isinstance(b, float):
        return struct.pack("<d", a) == struct.pack("<d", b)
    return a == b

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return v
    return v


def main():
    sf, out = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    unknown = sorted(only - set(oracle))
    if unknown:
        # a misspelled name must fail the check, never shrink it to nothing
        print(f"unknown query names: {', '.join(unknown)}")
        sys.exit(2)
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            res = con.execute(f"SELECT * FROM '{out}/{name}/*.parquet'")
            scols = [d[0] for d in res.description]
            srows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: spark output unreadable: {e}")
            n_fail += 1
            continue
        try:
            ores = con.execute(sql)
            ocols = [d[0] for d in ores.description]
            orows = ores.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {e}")
            n_fail += 1
            continue
        # driver sorts columns by name before hashing
        sidx = [scols.index(c) for c in sorted(scols)]
        oidx = [ocols.index(c) for c in sorted(ocols)]
        schema_ok = sorted(scols) == sorted(ocols)
        if not schema_ok:
            print(f"FAIL {name}: schema spark={sorted(scols)} oracle={sorted(ocols)}")
            n_fail += 1
            continue
        def sortkey(row):
            return tuple((v is None, str(type(v)), v if v is not None else 0) for v in row)
        skey = sorted((tuple(canon(r[i]) for i in sidx) for r in srows), key=sortkey)
        okey = sorted((tuple(canon(r[i]) for i in oidx) for r in orows), key=sortkey)
        if len(skey) != len(okey):
            print(f"FAIL {name}: rows spark={len(skey)} oracle={len(okey)}")
            n_fail += 1
            continue
        bad = None
        hashrisk = None
        maxdiff = 0.0
        negzero = 0
        for a, b in zip(skey, okey):
            for x, y in zip(a, b):
                if is_neg_zero(x) or is_neg_zero(y):
                    negzero += 1
            if a != b:
                # measure float divergence for diagnostics
                for x, y in zip(a, b):
                    if isinstance(x, float) and isinstance(y, float):
                        maxdiff = max(maxdiff, abs(x - y))
                    elif x != y:
                        maxdiff = float("inf")
                if bad is None:
                    bad = (a, b)
            elif hashrisk is None and not all(byte_equal(x, y) for x, y in zip(a, b)):
                # value-equal but byte-distinct (signed zero): the driver's
                # byte hash WILL split even though == compare passes.
                hashrisk = (a, b)
        if bad:
            print(f"FAIL {name}: value mismatch (maxdiff={maxdiff:g})")
            print(f"  spark : {bad[0]}")
            print(f"  oracle: {bad[1]}")
            n_fail += 1
        elif hashrisk:
            print(f"FAIL {name}: HASH-RISK value-equal but byte-distinct (signed zero)")
            print(f"  spark : {hashrisk[0]}")
            print(f"  oracle: {hashrisk[1]}")
            n_fail += 1
        else:
            flag = f"  [HASH-RISK: {negzero} -0.0 cells present on both sides]" if negzero else ""
            print(f"PASS {name} ({len(skey)} rows){flag}")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {len(oracle)} oracled")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
