#!/usr/bin/env python3
"""Oracle parity check: run graft.Verify first, then this script.

Usage: python3 scripts/oracle_check.py <sfDir> <verifyOutDir> [query ...]
       python3 scripts/oracle_check.py --against <otherVerifyOutDir> <verifyOutDir> [query ...]

Replicates the driver's check shape: for every query in oracle_sql.json
(or the subset given), run the DuckDB SQL over the sf parquet tables, read
the Spark dump, sort columns by name and rows by all columns, compare cell
by cell (floats bit-exact via struct pack, like a hash would be).

With --against, every query dumped in either directory (not only the
oracle ones) is compared with the same-named dump of another graft.Verify
run: first the parquet schemas (column name, arrow type and nullability,
sorted by name), then the rows with the same comparator. Both sides are
Spark, so a type drift between two builds is a failure even where DuckDB's
EXCEPT ALL would coerce it away (int vs bigint). Oracle mode compares rows
only: DuckDB's and Spark's types legitimately differ there.
"""
import sys, json, glob, os
import duckdb
import pyarrow.parquet as pq


def read_dump(con, dump):
    return con.execute(f"SELECT * FROM read_parquet('{dump}/*.parquet')").fetch_arrow_table()


def dump_schema(dump):
    """(name, arrow type, nullable) of each column of a Spark dump, by name."""
    part = sorted(glob.glob(os.path.join(dump, "*.parquet")))[0]
    return sorted((f.name, str(f.type), f.nullable) for f in pq.read_schema(part))


def compare(con, a, b, a_name, b_name):
    """None when arrow tables a and b hold the same rows (columns matched by
    name, rows as a multiset), else what differs."""
    acols = sorted(a.column_names)
    bcols = sorted(b.column_names)
    if acols != bcols:
        return f"SCHEMA mismatch {a_name}={acols} {b_name}={bcols}"
    if a.num_rows != b.num_rows:
        return f"ROWS mismatch {a_name}={a.num_rows} {b_name}={b.num_rows}"
    cols = ", ".join(f'"{c}"' for c in acols)
    con.register("t_a", a); con.register("t_b", b)
    diff = con.execute(
        f"SELECT count(*) FROM ((SELECT {cols} FROM t_a EXCEPT ALL SELECT {cols} FROM t_b)"
        f" UNION ALL (SELECT {cols} FROM t_b EXCEPT ALL SELECT {cols} FROM t_a))"
    ).fetchone()[0]
    con.unregister("t_a"); con.unregister("t_b")
    return f"CONTENT mismatch ({diff} differing rows)" if diff else None


def check_oracle(con, sf, out, subset):
    """(query, error or None, rows) for every oracle query."""
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    for t in glob.glob(os.path.join(sf, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}/*.parquet')"
                    if os.path.isdir(t) else
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    for q in sorted(oracle):
        if subset and q not in subset:
            continue
        dump = os.path.join(out, q)
        if not os.path.isdir(dump):
            yield q, "MISSING spark dump", 0; continue
        try:
            orc = con.execute(oracle[q]).fetch_arrow_table()
        except Exception as e:
            yield q, f"oracle ERROR {e}", 0; continue
        yield q, compare(con, orc, read_dump(con, dump), "oracle", "spark"), orc.num_rows


def check_against(con, other, out, subset):
    """(query, error or None, rows) for every query dumped in either run."""
    def dumps(d):
        return {q for q in os.listdir(d) if os.path.isdir(os.path.join(d, q))}
    for q in sorted(dumps(out) | dumps(other)):
        if subset and q not in subset:
            continue
        mine, theirs = os.path.join(out, q), os.path.join(other, q)
        if not os.path.isdir(mine) or not os.path.isdir(theirs):
            yield q, f"MISSING dump in {other if os.path.isdir(mine) else out}", 0; continue
        sa, sb = dump_schema(mine), dump_schema(theirs)
        if sa != sb:
            yield q, (f"TYPE mismatch this={[f for f in sa if f not in sb]}"
                      f" other={[f for f in sb if f not in sa]}"), 0; continue
        a = read_dump(con, mine)
        yield q, compare(con, a, read_dump(con, theirs), "this", "other"), a.num_rows


def main():
    con = duckdb.connect()
    if sys.argv[1] == "--against":
        other, out = sys.argv[2], sys.argv[3]
        results = check_against(con, other, out, set(sys.argv[4:]) or None)
    else:
        sf, out = sys.argv[1], sys.argv[2]
        results = check_oracle(con, sf, out, set(sys.argv[3:]) or None)
    n_pass = n_fail = 0
    for q, err, rows in results:
        if err:
            print(f"{q}: {err}"); n_fail += 1
        else:
            print(f"{q}: ok ({rows} rows)"); n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

main()
