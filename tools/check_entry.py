"""Driver-style correctness check: run every __spark_entry__ query on
Spark and its oracle on DuckDB at a given sf dir; compare row counts,
schemas (column names), and order-insensitive stringified values.

Usage: python tools/check_entry.py [sf_dir] [query ...]

Exits 0 only if every checked query reports OK; a query without an
oracle fails.
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(pdf):
    """STRICT canonicalization: the raw str() of every value after
    client-side pandas conversion, rows sorted.  This mirrors the
    driver's value hash — a Decimal('1.000000') vs float 1.0 rendering
    difference is a real failure here (round-1 lesson: a 6-dp float
    canon hid three such mismatches)."""
    cols = sorted(pdf.columns)
    out = []
    for r in pdf[cols].itertuples(index=False):
        out.append(tuple("<null>" if v is None or v != v else str(v)
                         for v in r))
    return sorted(out)


def main():
    import duckdb

    import __spark_entry__ as E
    from gg2rdf_spark.session import build_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = build_session(master="local[8]")
    con = duckdb.connect()
    for t in E.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = E.queries(), E.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            spdf = df.toPandas()
        except Exception as e:  # noqa: BLE001
            results[name] = f"SPARK-ERROR {type(e).__name__}: {str(e)[:300]}"
            print(f"{name}: {results[name]}", flush=True)
            continue
        el = time.time() - t0
        if name not in oracles:
            results[name] = f"NO-ORACLE ({len(spdf)} rows, {el:.1f}s)"
            print(f"{name}: {results[name]}", flush=True)
            continue
        try:
            odf = con.execute(oracles[name]).df()
            ocols = list(odf.columns)
        except Exception as e:  # noqa: BLE001
            results[name] = f"ORACLE-ERROR {type(e).__name__}: {str(e)[:300]}"
            print(f"{name}: {results[name]}", flush=True)
            continue
        if sorted(cols) != sorted(ocols):
            results[name] = f"SCHEMA-MISMATCH spark={sorted(cols)} duck={sorted(ocols)}"
        elif len(spdf) != len(odf):
            results[name] = f"COUNT-MISMATCH spark={len(spdf)} duck={len(odf)}"
        else:
            a, b = canon(spdf), canon(odf)
            if a == b:
                results[name] = f"OK ({len(spdf)} rows, {el:.1f}s)"
            else:
                diff_a = [x for x in a if x not in set(b)][:3]
                diff_b = [x for x in b if x not in set(a)][:3]
                results[name] = (
                    f"VALUE-MISMATCH sparkonly={diff_a} duckonly={diff_b}"
                )
        print(f"{name}: {results[name]}", flush=True)

    n_ok = sum(1 for v in results.values() if v.startswith("OK"))
    print(f"\nSUMMARY: {n_ok}/{len(results)} passing", flush=True)
    spark.stop()
    return 0 if results and n_ok == len(results) else 1


if __name__ == "__main__":
    sys.exit(main())
