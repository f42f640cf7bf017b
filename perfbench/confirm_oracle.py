"""Pin the analytics workload's expected result fingerprints.

    python3 perfbench/confirm_oracle.py [sf ...]     (default: 0.01 0.001)

Run from the repository root.  For each scale factor it generates the
analytics tables (fixed generator seed), runs every benchmark query on
Spark and its registry oracle SQL on DuckDB over the same files,
compares them (row count, column names, order-insensitive values with
floats to 1e-9), and only when every query agrees writes the Spark
results' fingerprints to `perfbench/expected_sf<sf>.json`.  Needs the
`duckdb` package; the benchmark itself does not.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys

ROOT = os.getcwd()
sys.path[:0] = [ROOT, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]


def _norm_rows(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(round(r[i], 9) if isinstance(r[i], float) else r[i] for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def _same(a, b) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                if not (math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-9)
                        or (math.isnan(va) and math.isnan(vb))):
                    return False
            elif str(va) != str(vb):
                return False
    return True


def main(sfs: list[float]) -> int:
    import duckdb

    from perfbench.common import configure_environment, stop_spark
    from perfbench.datagen import write_analytics_tables
    from perfbench.workloads import ANALYTICS_QUERIES, expected_path, fingerprint

    work = os.path.join(ROOT, ".perfbench", "oracle")
    shutil.rmtree(work, ignore_errors=True)
    configure_environment(ROOT, work)
    from dl_datalake_spark.queries import ORACLE_SQL, QUERIES
    from dl_datalake_spark.session import get_spark
    from dl_datalake_spark.tables import TABLE_NAMES

    spark = get_spark("perfbench-oracle")
    bad = 0
    try:
        for sf in sfs:
            data = os.path.join(work, f"sf{sf:g}")
            write_analytics_tables(data, sf)
            con = duckdb.connect()
            for t in TABLE_NAMES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
            expected = {}
            for name in ANALYTICS_QUERIES:
                df = QUERIES[name](spark, data)
                rows = [tuple(r) for r in df.collect()]
                cols = [c.lower() for c in df.columns]
                rel = con.sql(ORACLE_SQL[name])
                duck = rel.fetchall()
                dcols = [c.lower() for c in rel.columns]
                ok = sorted(cols) == sorted(dcols) and _same(
                    _norm_rows(rows, cols), _norm_rows(duck, dcols)
                )
                print(f"{'OK  ' if ok else 'FAIL'} sf{sf:g} {name}: {len(rows)} rows", flush=True)
                bad += not ok
                expected[name] = fingerprint(df.columns, [t for _, t in df.dtypes], rows)
            if not bad:
                with open(expected_path(sf), "w") as f:
                    json.dump(expected, f, indent=1, sort_keys=True)
                    f.write("\n")
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main([float(a) for a in sys.argv[1:]] or [0.01, 0.001]))
