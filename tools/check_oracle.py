#!/usr/bin/env python3
"""Dev-only local replica of the driver's correctness gate.

Runs each SparkEntry query result (parquet dumped by graft.Verify) against
the DuckDB oracle SQL over the same testdata tables, normalizes (sort
columns by name, sort rows), and reports exact row/schema/value matches.

Fidelity with the real driver (hard-won, r10): the driver hashes typed
values, so a DECIMAL output column hash-fails even when the string repr
matches a DOUBLE oracle. This replica therefore ALSO:
  - reads each Spark result's parquet FOOTER schema and fails on any
    decimal-typed output column (the r7/r10 escape class), and
  - compares type CLASSES (int/float/decimal/...) between the Spark
    parquet schema and the DuckDB oracle result, per column.
Each query's line also gives its seconds, split into the oracle SQL
(DuckDB over the testdata) and the compare (reading the Spark result,
the checks, sort and cell compare); the ten slowest close the report.

Not part of the shipped library.
"""
import json, sys, glob, os, time
import duckdb
import pyarrow.parquet as pq
import pyarrow.types as pat


def pa_type_class(t):
    if pat.is_decimal(t): return "decimal"
    if pat.is_integer(t): return "int"
    if pat.is_floating(t): return "float"
    if pat.is_boolean(t): return "bool"
    if pat.is_string(t) or pat.is_large_string(t): return "str"
    if pat.is_date(t): return "date"
    if pat.is_timestamp(t): return "timestamp"
    if pat.is_binary(t) or pat.is_large_binary(t): return "binary"
    if pat.is_list(t) or pat.is_large_list(t): return "list"
    return str(t)


def duck_type_class(t):
    s = str(t).upper()
    if s.startswith("DECIMAL") or s == "HUGEINT": return "decimal"
    if s in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"): return "int"
    if s in ("FLOAT", "DOUBLE", "REAL"): return "float"
    if s == "BOOLEAN": return "bool"
    if s == "VARCHAR": return "str"
    if s == "DATE": return "date"
    if s.startswith("TIMESTAMP"): return "timestamp"
    if s == "BLOB": return "binary"
    if s.endswith("[]"): return "list"
    return s


def spark_schema(res_glob):
    """Column -> pyarrow type class, from the first parquet footer."""
    f = sorted(glob.glob(res_glob))[0]
    sch = pq.read_schema(f)
    return {name: pa_type_class(sch.field(name).type) for name in sch.names}


def check(con, oracles, name, res_glob):
    """(status, oracle seconds) of one query's result: status is OK,
    ROWS_ONLY ... or the first failure found."""
    if not glob.glob(res_glob):
        return "NO_RESULT", 0.0
    # driver-parity: DECIMAL in the OUTPUT schema is an automatic fail
    # (its hasher normalizes Decimal vs float differently per engine)
    sch = spark_schema(res_glob)
    dec_cols = [c for c, k in sch.items() if k == "decimal"]
    if dec_cols:
        return f"DECIMAL_OUTPUT cols={dec_cols} (driver hash-fails these)", 0.0
    got = con.sql(f"SELECT * FROM '{res_glob}'").fetchdf()
    if name not in oracles:
        return f"ROWS_ONLY rows={len(got)}" + (" EMPTY!" if len(got)==0 else ""), 0.0
    t0 = time.perf_counter()
    try:
        rel = con.sql(oracles[name])
        exp_types = dict(zip(rel.columns, [duck_type_class(t) for t in rel.types]))
        exp = rel.fetchdf()
    except Exception as e:
        return f"ORACLE_SQL_ERROR: {e}", time.perf_counter() - t0
    oracle_s = time.perf_counter() - t0
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        return f"SCHEMA_MISMATCH cols got={list(got.columns)} exp={list(exp.columns)}", oracle_s
    # type-CLASS parity between the Spark parquet footer and the oracle
    # (decimal-vs-double, int-vs-float etc. — the r10 q24 escape class).
    # DuckDB SUM(int)->HUGEINT maps to "decimal" here; that's a real
    # oracle bug too (CLAUDE.md: always CAST(... AS BIGINT)).
    tmm = [(c, sch.get(c), exp_types.get(c)) for c in got.columns
           if sch.get(c) != exp_types.get(c)]
    if tmm:
        return f"TYPE_CLASS_MISMATCH {tmm}", oracle_s
    if len(got) != len(exp):
        return f"ROWCOUNT got={len(got)} exp={len(exp)}", oracle_s
    gs = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    es = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    # dtype normalization: compare values via string repr per cell
    for c in got.columns:
        gv, ev = gs[c], es[c]
        try:
            eq = (gv.astype(str) == ev.astype(str))
        except Exception as e:
            return f"VALUE_MISMATCH col {c}: compare error {e}", oracle_s
        if not eq.all():
            i = eq.idxmin()
            return (f"VALUE_MISMATCH col {c} row {i}: got={gv[i]!r} ({gv.dtype}) "
                    f"exp={ev[i]!r} ({ev.dtype}) ndiff={int((~eq).sum())}"), oracle_s
    return "OK", oracle_s


def main():
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft_verify"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    results = {}
    times = {}  # name -> (oracle seconds, compare seconds)
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            continue
        t0 = time.perf_counter()
        v, o = check(con, oracles, name, f"{path}/*.parquet")
        c = time.perf_counter() - t0 - o
        results[name], times[name] = v, (o, c)
        print(f"{'PASS' if v=='OK' or (v.startswith('ROWS_ONLY') and 'EMPTY' not in v) else 'FAIL':4} {name}: {v} "
              f"[oracle {o:.2f}s, compare {c:.2f}s]", flush=True)
    ok = sum(1 for v in results.values() if v == "OK" or v.startswith("ROWS_ONLY rows=") and "EMPTY" not in v)
    print(f"\n{ok}/{len(results)} green")
    print("\nslowest 10 (oracle + compare):")
    for k, (o, c) in sorted(times.items(), key=lambda kv: -sum(kv[1]))[:10]:
        print(f"  {o + c:7.2f}s  {k} (oracle {o:.2f}s, compare {c:.2f}s)")

if __name__ == "__main__":
    main()
