"""Canonical result-set hash of declared queries from an ARBITRARY repo
tree — equivalence evidence for queries whose DuckDB oracle is
infeasible at a given sf (e.g. a quadratic oracle SQL spilling > disk
at sf0.1): run once against the round-start tree and once against HEAD;
identical hashes prove the optimization changed no result.

Usage:
  python BENCH/result_hash.py --repo /tmp/r06start \
      --sf-dir /root/testdata/sf0.1 --queries doc_kcore_members
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import math
import os
import sys


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if v is None:
        return ""
    return str(v)


def _rowset(cols, rows):
    """Order-insensitive canonical form of a result: one line per row,
    values in column-name order, lines sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        "\x1f".join(_canon(r[i]) for i in order) for r in rows
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", required=True)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", required=True)
    args = ap.parse_args()

    repo = os.path.abspath(args.repo)
    sys.path.insert(0, repo)
    spec = importlib.util.spec_from_file_location(
        "entry_under_test", os.path.join(repo, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    from clip_retrieval_spark.session import get_spark

    cpus = os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    spark = get_spark(master=f"local[{cpus}]", app_name="result_hash",
                      shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")

    queries = entry.queries()
    for name in [q.strip() for q in args.queries.split(",") if q.strip()]:
        df = queries[name](spark, args.sf_dir)
        cols = [c.lower() for c in df.columns]
        rows = df.collect()
        canon = _rowset(cols, rows)
        h = hashlib.md5()
        h.update(("|".join(sorted(cols)) + "\n").encode())
        for line in canon:
            h.update(line.encode())
            h.update(b"\n")
        print(f"{name}: rows={len(rows)} hash={h.hexdigest()}", flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
