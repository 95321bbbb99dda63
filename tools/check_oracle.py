"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` on Spark and the
matching ``oracle_sql()`` on DuckDB (tables pre-registered as views over
the same parquet), then compares:

- row count
- sorted column-name list
- order-insensitive cell values (columns sorted by name, rows sorted by
  stringified tuple, exact string compare — stricter than a hash, so a
  pass here implies a hash match)

Both sides are fetched THROUGH PANDAS (Spark ``toPandas``, DuckDB
``.df()``) to reproduce the driver's type sensitivity: e.g. DuckDB
HUGEINT (any integer ``sum``) arrives as float64 — ``5.0`` vs Spark's
``5`` — which the driver's value hash flags even though a raw
``fetchall`` compare would not (round-1 q_nonnull_counts lesson).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)

# The driver certifies the first DRIVER_WINDOW insertion-order
# queries() keys — single definition exported by __spark_entry__
# (duplicating the literal here was a round-8 drift-risk note).
from __spark_entry__ import DRIVER_WINDOW  # noqa: E402


def canon(value) -> str:
    if value is None:
        return "<NULL>"
    if isinstance(value, float):
        if math.isnan(value):
            return "<NULL>"
        return repr(value)
    if hasattr(value, "tolist"):  # numpy array / scalar cells
        return str(value.tolist())
    if isinstance(value, (list, tuple)):
        return str(list(value))
    try:
        # pandas NaT / NA scalars are not self-equal
        if value != value:  # noqa: PLR0124
            return "<NULL>"
    except (TypeError, ValueError):
        pass
    return str(value)


def frame_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from databricks_flight_etl_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures, passes, rows_only = [], [], []

    # The DRIVER's canonicalizer pandas-sorts every output column and
    # crashes on array/struct/map cells ("unhashable type: ndarray") —
    # our tolist() path would hide that locally. Any query inside the
    # driver's evaluation window (first WINDOW insertion-order keys of
    # queries()) must therefore emit only scalar columns.
    window_keys = set(list(qs)[:DRIVER_WINDOW])

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            if name in window_keys:
                from pyspark.sql import types as T

                bad = [
                    f"{f.name}:{f.dataType.simpleString()}"
                    for f in sdf.schema.fields
                    if isinstance(
                        f.dataType, (T.ArrayType, T.StructType, T.MapType)
                    )
                ]
                if bad:
                    failures.append(name)
                    print(
                        f"FAIL {name}: non-scalar columns in driver-window "
                        f"query ({', '.join(bad)}) — the driver's pandas "
                        f"canonicalizer cannot hash them; posexplode/flatten "
                        f"in the harness query"
                    )
                    continue
            spdf = sdf.toPandas()
            srows = [tuple(r) for r in spdf.itertuples(index=False)]
            spark.catalog.clearCache()  # per-query pins (session.pin)
        except Exception:
            failures.append(name)
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            continue
        if name not in oracles:
            rows_only.append(name)
            print(f"rows-only {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            dpdf = rel.df()
            drows = [tuple(r) for r in dpdf.itertuples(index=False)]
        except Exception:
            failures.append(name)
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            continue

        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(dcols)}")
        if not problems:
            sm = frame_to_multiset(scols, srows)
            dm = frame_to_multiset(dcols, drows)
            if sm != dm:
                diffs = [
                    (a, b) for a, b in zip(sm, dm) if a != b
                ][:3]
                problems.append(f"values differ; first diffs: {diffs}")
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            passes.append(name)
            print(f"PASS {name} ({len(srows)} rows) [{time.time()-t0:.1f}s]")

    print(
        f"\n== {len(passes)} pass, {len(failures)} fail, "
        f"{len(rows_only)} rows-only =="
    )
    if failures:
        print("failed:", " ".join(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
