"""Out-of-band oracle equivalence at ARBITRARY sf (the in-repo pytest
mirror runs at sf0.01/sf0.001; optimization changes are additionally
proven at bench scale with this script — same comparison method as
tests/test_entry.py).

Usage: python BENCH/oracle_check.py --sf-dir /root/testdata/sf0.1 \
           --queries dedup_minhash_lsh,chunk_dedup_ratio
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from BENCH.result_hash import (  # noqa: E402
    _rowset,
    with_repo_on_pythonpath,
)
from clip_retrieval_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", required=True)
    args = ap.parse_args()

    con = duckdb.connect()
    # a runaway oracle (quadratic SQL at a big sf) must error cleanly,
    # not fill the disk and kill the whole sweep: it may spill at most
    # half the free space of the working directory, where DuckDB's spill
    # directory (.tmp/) lives
    cap = shutil.disk_usage(os.getcwd()).free // 2
    con.execute(f"SET max_temp_directory_size='{cap}B'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )
    cpus = os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    with_repo_on_pythonpath(REPO)
    spark = get_spark(master=f"local[{cpus}]", app_name="oracle_check",
                      shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")

    oracles = entry_mod.oracle_sql()
    queries = entry_mod.queries()
    names = [q.strip() for q in args.queries.split(",") if q.strip()]
    failed = []
    for name in names:
        try:
            sdf = queries[name](spark, args.sf_dir)
            s_cols = [c.lower() for c in sdf.columns]
            s_rows = [tuple(r) for r in sdf.collect()]
            res = con.execute(oracles[name])
            d_cols = [c[0].lower() for c in res.description]
            d_rows = res.fetchall()
        except Exception as exc:  # oracle OOM/temp-cap etc. — keep going
            print(f"{name}: ERR {type(exc).__name__}: {exc}", flush=True)
            failed.append(name)
            continue
        ok = (
            sorted(s_cols) == sorted(d_cols)
            and len(s_rows) == len(d_rows)
            and _rowset(s_cols, s_rows) == _rowset(d_cols, d_rows)
        )
        print(f"{name}: {'OK' if ok else 'MISMATCH'} "
              f"(spark {len(s_rows)} rows, duckdb {len(d_rows)})",
              flush=True)
        if not ok:
            failed.append(name)
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
