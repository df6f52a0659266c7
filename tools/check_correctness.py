#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its DuckDB oracle side-by-side at
sf0.01, compares row count, schema (column names sorted), and an
order-insensitive value hash (rows sorted, floats kept exact — the engine's
determinism discipline means values should be bit-identical).

Usage: python tools/check_correctness.py [query ...] [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time

# import the checkout this script lives in, wherever it is run from —
# in this process and in the Spark Python workers it launches
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (_REPO, os.environ.get("PYTHONPATH")) if p
)

import duckdb  # noqa: E402

from etl_loading_scripts_spark.catalog import TABLES, table_path  # noqa: E402
from etl_loading_scripts_spark.queries import REGISTRY  # noqa: E402
from etl_loading_scripts_spark.session import get_spark  # noqa: E402


def _canon(df) -> tuple[int, list[str], str]:
    """(row_count, sorted column names, order-insensitive value hash)."""
    import pandas as pd

    pdf = df if isinstance(df, pd.DataFrame) else df.toPandas()
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = []
    for tup in pdf.itertuples(index=False, name=None):
        cells = []
        for v in tup:
            if v is None or (isinstance(v, float) and v != v):
                cells.append("\\N")
            elif isinstance(v, float):
                cells.append(repr(v))  # exact repr: bit-identical or bust
            else:
                cells.append(str(v))
        rows.append("\x1f".join(cells))
    rows.sort()
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]
    return len(pdf), cols, h


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", help="subset of query names")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--show-diff", action="store_true")
    ap.add_argument(
        "--json",
        help="write per-query results as a JSON artifact (the auditable "
        "record of the full local sweep, VERDICT r4 item 2)",
    )
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="build a bare SparkSession (no engine confs) to prove every "
        "query is session-independent, like the driver's own harness",
    )
    args = ap.parse_args()

    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("check-correctness-vanilla")
            .master("local[*]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark(app_name="check-correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(args.sf_dir, t)}')"
        )

    names = args.queries or sorted(REGISTRY)
    failures = []
    records = {}
    for name in names:
        q = REGISTRY[name]
        t0 = time.time()
        try:
            sdf = q.spark(spark, args.sf_dir)
            s_n, s_cols, s_hash = _canon(sdf)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            records[name] = {"status": "spark_error", "error": str(e)[:300]}
            continue
        if q.oracle is None:
            print(f"rows  {name}: {s_n} rows (no oracle — rows-only check)")
            records[name] = {"status": "rows_only", "rows": s_n}
            continue
        try:
            odf = con.execute(q.oracle).fetchdf()
            o_n, o_cols, o_hash = _canon(odf)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {e}")
            failures.append(name)
            records[name] = {"status": "oracle_error", "error": str(e)[:300]}
            continue
        ok = (s_n, s_cols, s_hash) == (o_n, o_cols, o_hash)
        status = "OK  " if ok else "FAIL"
        dt = time.time() - t0
        records[name] = {
            "status": "ok" if ok else "mismatch",
            "rows_spark": s_n, "rows_oracle": o_n,
            "hash_match": s_hash == o_hash, "cols_match": s_cols == o_cols,
            "sec": round(dt, 2),
        }
        print(f"{status}  {name}: spark={s_n} oracle={o_n} "
              f"hash {'=' if s_hash == o_hash else '!='} cols "
              f"{'=' if s_cols == o_cols else f'{s_cols} vs {o_cols}'} [{dt:.1f}s]")
        if not ok:
            failures.append(name)
            if args.show_diff:
                import pandas as pd

                spdf = sdf.toPandas()[sorted(s_cols)].sort_values(sorted(s_cols)).reset_index(drop=True)
                updf = odf[sorted(o_cols)].sort_values(sorted(o_cols)).reset_index(drop=True) if s_cols == o_cols else odf
                print("--- spark head ---\n", spdf.head(5))
                print("--- oracle head ---\n", updf.head(5))
                if s_cols == o_cols and len(spdf) == len(updf):
                    neq = (spdf != updf) & ~(spdf.isna() & updf.isna())
                    bad = neq.any(axis=1)
                    print("--- first mismatched rows (spark | oracle) ---")
                    print(pd.concat([spdf[bad].head(5), updf[bad].head(5)], axis=1))
    print(f"\n{len(names) - len(failures)}/{len(names)} queries match", flush=True)
    if args.json:
        import json

        with open(args.json, "w") as fh:
            json.dump(
                {
                    "sf_dir": args.sf_dir,
                    "vanilla": args.vanilla,
                    "n_queries": len(names),
                    "n_green": len(names) - len(failures),
                    "failures": failures,
                    "queries": records,
                },
                fh, indent=1,
            )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
