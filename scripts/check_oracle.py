#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle correctness gate.

Usage: check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs the
matching SQL from oracle_sql.json in DuckDB over the same source tables, and
compares schema + row multiset EXACTLY (column order normalized by name).
Exact comparison is deliberately stricter than any plausible driver hash.
"""
import sys, os, json, math
import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    # datetime / date / pandas Timestamp -> canonical string, so sorting by
    # repr is stable across the two readers' object types
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def type_class(t):
    """Canonical hash-equivalence class of an arrow type: values of two
    types in the same class stringify identically (int32 5 / int64 5),
    different classes do not (DOUBLE 5.0 vs BIGINT 5)."""
    import pyarrow.types as pt
    if pt.is_integer(t):
        return "int"
    if pt.is_floating(t):
        return "float"
    if pt.is_boolean(t):
        return "bool"
    if pt.is_string(t) or pt.is_large_string(t):
        return "str"
    if pt.is_date(t):
        return "date"
    if pt.is_timestamp(t):
        return "timestamp"
    if pt.is_list(t) or pt.is_large_list(t):
        return ("list", type_class(t.value_type))
    if pt.is_struct(t):
        return ("struct",
                tuple((f.name, type_class(f.type)) for f in t))
    return str(t)


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    # FRESH-OUTDIR GUARD: Verify writes query_names.json listing the dumps
    # it owns; any other directory is debris from an earlier run (renamed
    # or removed queries) and must not pollute the sweep.
    qn_path = f"{out_dir}/query_names.json"
    n_pass = n_fail = n_rowsonly = 0
    if os.path.exists(qn_path):
        owned = set(json.load(open(qn_path)))
        for n in [n for n in names if n not in owned]:
            print(f"STALE {n}: not in this run's query_names.json — skipped "
                  f"(delete the dir or re-run Verify unfiltered)")
        names = [n for n in names if n in owned]
        # Verify records the cause of each query it could not dump
        fl_path = f"{out_dir}/failures.json"
        failures = json.load(open(fl_path)) if os.path.exists(fl_path) else {}
        for n in sorted(owned - set(names)):
            f = failures.get(n)
            why = (f"{f['class']}: {(f['message'].splitlines() or [''])[0]}"
                   if f else "no cause in failures.json")
            print(f"FAIL {n}: listed in query_names.json but no dump "
                  f"directory — Verify failed: {why}")
            n_fail += 1
    for name in names:
        spark_tbl = pq.read_table(f"{out_dir}/{name}")
        if name not in oracle:
            ok = spark_tbl.num_rows > 0
            print(f"{'ROWS-ONLY ok' if ok else 'ROWS-ONLY EMPTY'}  {name} "
                  f"({spark_tbl.num_rows} rows)")
            n_rowsonly += 1
            if not ok:
                n_fail += 1
            continue
        try:
            duck = con.execute(oracle[name]).fetch_arrow_table()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        scols = sorted(spark_tbl.column_names)
        dcols = sorted(duck.column_names)
        if scols != dcols:
            print(f"FAIL {name}: columns differ spark={scols} duck={dcols}")
            n_fail += 1
            continue
        # DuckDB sums BIGINT into DECIMAL(38,0)/HUGEINT (and Spark decimal
        # accumulators can leak out uncast). Python == coerces
        # Decimal(5) == 5 so a value compare passes, but the driver hashes
        # dtypes and flags a mismatch (round-2: e1/e3/t6/t10). Require BOTH
        # sides to CAST such columns to BIGINT/DOUBLE explicitly.
        dec = [(side, f.name)
               for side, tbl in (("oracle", duck), ("spark", spark_tbl))
               for f in tbl.schema if str(f.type).startswith("decimal")]
        if dec:
            print(f"FAIL {name}: DECIMAL-typed column(s) {dec} — "
                  f"add an explicit cast to BIGINT/DOUBLE")
            n_fail += 1
            continue
        # The driver's hash is TYPE-sensitive: a Spark DOUBLE 46741.0
        # hashes differently from DuckDB's BIGINT 46741 even though
        # Python's == coerces them equal (round-6: fn3/ts10 shipped
        # "green" locally and failed the driver). Compare the type CLASS
        # of every column pairwise; width differences (int32 vs int64,
        # float vs double, string vs large_string) hash identically and
        # are allowed, but float-vs-int / bool-vs-int are not.
        mismut = []
        stypes = {f.name: type_class(f.type) for f in spark_tbl.schema}
        for f in duck.schema:
            dc = type_class(f.type)
            if stypes.get(f.name) != dc:
                mismut.append((f.name, stypes.get(f.name), dc))
        if mismut:
            print(f"FAIL {name}: column type-class mismatch "
                  f"(col, spark, oracle) = {mismut} — cast both sides "
                  f"to the same type")
            n_fail += 1
            continue
        sp = spark_tbl.select(scols).to_pylist()
        du = duck.select(dcols).to_pylist()
        sp = sorted((tuple(norm(r[c]) for c in scols) for r in sp), key=repr)
        du = sorted((tuple(norm(r[c]) for c in dcols) for r in du), key=repr)
        if len(sp) != len(du):
            print(f"FAIL {name}: rows spark={len(sp)} duck={len(du)}")
            n_fail += 1
            continue
        bad = [(a, b) for a, b in zip(sp, du) if a != b]
        if bad:
            print(f"FAIL {name}: {len(bad)}/{len(sp)} rows differ; first: "
                  f"spark={bad[0][0]} duck={bad[0][1]}")
            n_fail += 1
            continue
        print(f"MATCH {name} ({len(sp)} rows)")
        n_pass += 1
    print(f"\n== {n_pass} match, {n_rowsonly} rows-only, {n_fail} FAIL "
          f"(of {len(names)} queries)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
