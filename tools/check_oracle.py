"""Local replica of the driver's correctness gate: run every queries()[name]
on Spark and its oracle_sql()[name] on DuckDB at sf0.01, compare row count,
sorted-column-name schema, and an order-insensitive value hash.

Every PASS and ROWS line ends with the Spark-side value hash, so two trees
compare with one ``diff`` of their outputs (the timing field aside).

Usage: python tools/check_oracle.py [name ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import os

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def value_hash(rows: list[tuple], colnames: list[str]) -> str:
    """Order-insensitive hash: render each row with columns sorted by name,
    normalize floats, sort the row strings, sha256."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def cell(v):
        if isinstance(v, float):
            return f"{v:.6f}".rstrip("0").rstrip(".")
        if isinstance(v, bool):
            return str(int(v))
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)

    rendered = sorted("|".join(cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(rendered).encode()).hexdigest()[:16]


def main() -> int:
    import __spark_entry__ as e
    from docling_japanese_books_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark("check_oracle", cores=8)
    con = duckdb.connect()
    for tname in TABLES:
        con.execute(
            f"CREATE VIEW {tname} AS SELECT * FROM read_parquet('{SF_DIR}/{tname}.parquet')"
        )

    qs = e.queries()
    oracles = e.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF_DIR)
            spark_rows = [tuple(r) for r in df.collect()]
            spark_cols = df.columns
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            hs = value_hash(spark_rows, spark_cols)
            print(f"ROWS {name}: {len(spark_rows)} rows ({dt:.1f}s) [rows-only] {hs}")
            n_rows_only += 1
            continue
        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            n_fail += 1
            continue
        problems = []
        if len(spark_rows) != len(duck_rows):
            problems.append(f"rowcount {len(spark_rows)} vs {len(duck_rows)}")
        if sorted(spark_cols) != sorted(duck_cols):
            problems.append(f"schema {sorted(spark_cols)} vs {sorted(duck_cols)}")
        if not problems:
            hs = value_hash(spark_rows, spark_cols)
            hd = value_hash(duck_rows, duck_cols)
            if hs != hd:
                problems.append(f"value-hash {hs} vs {hd}")
                # show first diff
                ss = sorted(map(str, spark_rows))
                dd = sorted(map(str, duck_rows))
                for a, b in zip(ss, dd):
                    if a != b:
                        problems.append(f"first diff:\n  spark: {a}\n  duck : {b}")
                        break
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name}: {len(spark_rows)} rows ({dt:.1f}s) {hs}")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
