"""Local mirror of the driver's correctness gate.

Runs every registered query on Spark and its oracle on DuckDB at the
given scale factor, compares row count, column names, and
order-insensitive values, and prints a per-query verdict.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(df):
    """Canonicalize a pandas frame for order-insensitive comparison."""
    import numpy as np
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1)

    def norm_cell(v):
        if isinstance(v, (np.ndarray, list, tuple)):
            return tuple(norm_cell(x) for x in v)
        if isinstance(v, np.floating):
            return float(v)
        if isinstance(v, np.integer):
            return int(v)
        if isinstance(v, pd.Timestamp):
            return v.to_pydatetime().replace(tzinfo=None).isoformat()
        if v is None or v is pd.NaT or (isinstance(v, float) and np.isnan(v)):
            return None
        return v

    rows = [tuple(norm_cell(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows, key=repr)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as ent
    from speech_data_pipeline_spark.session import get_spark

    spark = get_spark("oracle_check")
    qs, oracles = ent.queries(), ent.oracle_sql()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc(limit=4)
            n_fail += 1
            continue
        finally:
            # operators persist() bounded relations inside their plans;
            # across the whole registry in one session those accumulate
            # into storage-pool eviction thrash (see bench.py)
            spark.catalog.clearCache()
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception:
            print(f"FAIL  {name}: duckdb error")
            traceback.print_exc(limit=4)
            n_fail += 1
            continue
        msgs = []
        if len(sdf) != len(odf):
            msgs.append(f"rowcount spark={len(sdf)} duck={len(odf)}")
        scols, ocols = sorted(sdf.columns), sorted(odf.columns)
        if scols != ocols:
            msgs.append(f"schema spark={scols} duck={ocols}")
        else:
            # The driver's value hash is dtype-KIND-sensitive (round-1
            # lesson: DuckDB HUGEINT sums surface as float64 and
            # hash-mismatch Spark's int64 even when values are equal).
            # Width differences (int32 vs int64) and datetime unit
            # differences (ns vs us) passed the real gate, so compare
            # numpy dtype kind only.
            dt = [
                (c, str(sdf[c].dtype), str(odf[c].dtype))
                for c in scols
                if sdf[c].dtype.kind != odf[c].dtype.kind
            ]
            if dt:
                msgs.append(f"dtype-kind {dt}")
        if not msgs:
            cs, co = canon(sdf), canon(odf)
            if cs != co:
                diff = [
                    (a, b) for a, b in zip(cs, co) if a != b
                ][:3]
                msgs.append(f"values differ; first diffs: {diff}")
        if msgs:
            print(f"FAIL  {name}: {'; '.join(msgs)} [{time.time()-t0:.1f}s]")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
