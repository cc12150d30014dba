"""Driver-sim: run each queries() entry on Spark AND its oracle_sql() on
DuckDB at sf0.01; compare row count, sorted-by-name schema, and
order-insensitive values.  STRICT mode: values compared through pandas
(toPandas vs .df()) with type-sensitive canonicalization, like the
driver's value hash."""
import sys
from decimal import Decimal

import duckdb

sys.path.insert(0, "/root/repo")

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2:]

# the one table the queries share; the rest read in-repo parquets
TABLES = ["documents"]


def canon(v):
    # type-sensitive: Decimal('5.0') != 5.0 != 5 (mimics a value hash
    # computed over the raw pandas objects)
    import numpy as np

    if v is None or (isinstance(v, float) and v != v):
        return "NULL"
    if isinstance(v, Decimal):
        return f"dec:{v}"
    if isinstance(v, (float, np.floating)):
        return f"f64:{float(v)!r}"
    if isinstance(v, (int, np.integer)):
        return f"int:{int(v)}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "arr:[" + ",".join(canon(x) for x in v) + "]"
    return f"{type(v).__name__}:{v}"


def rowset(pdf):
    cols = sorted(pdf.columns)
    rows = pdf[cols].itertuples(index=False)
    return sorted(tuple(canon(v) for v in r) for r in rows)


def list_typed_cols(pdf):
    """Columns carrying list/array payloads — the DRIVER's canon
    (pandas sort_values over raw objects) crashes on these with
    'unhashable type: list' even though this sim's canon handles them
    (a round-3 red row: a raw centroid array).  Any such column is a contract
    bug: hash the array to md5 instead."""
    import numpy as np

    bad = []
    for c in pdf.columns:
        col = pdf[c]
        if col.dtype == object:
            for v in col:
                if isinstance(v, (list, tuple, np.ndarray)):
                    bad.append(c)
                    break
    return bad


def main():
    from helix_html2md_spark.session import build_session

    spark = build_session("oracle-check", master="local[8]", shuffle_partitions=8)
    try:
        return _run(spark)
    finally:
        spark.stop()  # even when one query aborts the battery


def _run(spark):
    import __spark_entry__ as E

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = 0
    import time

    t_battery = time.time()
    timings = {}
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            # guarded like the oracle side: one broken query must not
            # abort the other 49 results and the FAILURES summary
            spdf = fn(spark, SF).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"{name:24s} SPARK QUERY ERROR: {type(e).__name__}: {e}")
            failures += 1
            continue
        timings[name] = time.time() - t0
        srows = spdf
        scols = list(spdf.columns)
        bad = list_typed_cols(spdf)
        if bad:
            print(
                f"{name:24s} LIST-TYPED COLUMNS {bad} — driver canon "
                "would crash; hash arrays to md5 instead"
            )
            failures += 1
            continue
        if name not in oracles:
            print(f"{name:24s} rows={len(srows):6d}  (no oracle - rows-only)")
            continue
        try:
            dpdf = con.execute(oracles[name]).df()
            dcols = list(dpdf.columns)
        except Exception as e:  # noqa: BLE001
            print(f"{name:24s} ORACLE SQL ERROR: {e}")
            failures += 1
            continue
        drows = dpdf
        ok_schema = sorted(scols) == sorted(dcols)
        s, d = rowset(spdf), rowset(dpdf)
        ok_vals = s == d
        status = "OK" if ok_schema and ok_vals else "MISMATCH"
        print(
            f"{name:24s} rows={len(srows):6d}/{len(drows):6d} "
            f"schema={'ok' if ok_schema else sorted(scols)} vals={'ok' if ok_vals else 'DIFF'} {status}"
        )
        if not ok_schema:
            print("   spark:", sorted(scols), " duck:", sorted(dcols))
            failures += 1
        elif not ok_vals:
            failures += 1
            for a, b in list(zip(s, d))[:200]:
                if a != b:
                    print("   spark:", a)
                    print("   duck :", b)
                    break
            sd, ss = set(d), set(s)  # hoisted: rows are already tuples
            only_s = [r for r in s if r not in sd][:2]
            only_d = [r for r in d if r not in ss][:2]
            if only_s:
                print("   only-spark:", only_s)
            if only_d:
                print("   only-duck :", only_d)
    print("FAILURES:", failures)
    print(f"BATTERY WALL: {time.time() - t_battery:.1f}s (spark exec, excl. session init)")
    for n, t in sorted(timings.items(), key=lambda kv: -kv[1])[:15]:
        print(f"  slow: {n:24s} {t:6.2f}s")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
