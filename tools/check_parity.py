"""Targeted driver-contract check: run named queries (or all) against
their DuckDB oracles at a given sf dir. Usage:
    python tools/check_parity.py [sf_dir] [key ...]
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_sql_and_pyspark_developement__spark.plans import ORACLES, QUERIES
from etl_sql_and_pyspark_developement__spark.session import get_spark
from tests.parity import assert_parity


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    keys = args[1:] or sorted(QUERIES)
    spark = get_spark()
    bad = []
    for k in keys:
        try:
            df = QUERIES[k](spark, sf_dir)
            sql = ORACLES.get(k)
            if sql is None:
                n = df.count()
                print(f"{k}: rows-only ({n} rows)")
                continue
            assert_parity(df, sql, sf_dir, key=k)
            print(f"{k}: OK")
        except Exception as e:
            bad.append(k)
            print(f"{k}: FAIL {str(e)[:400]}")
    print(f"{len(keys) - len(bad)}/{len(keys)} ok")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
