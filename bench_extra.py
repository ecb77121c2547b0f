"""Per-query isolation bench (guide §1.4): times individual declared
queries with the noop sink and captures .explain("formatted") plans.

NOT the official bench — bench.py is frozen for measurement; this file
exists so optimization work can isolate one query at a time, A/B a
change, and commit the plan evidence under plans/r06/.

Usage:
  python bench_extra.py --queries kmeans_assign2,pq_adc_search \
      [--sf-dir /root/testdata/sf1.0] [--runs 3] \
      [--plans plans/r06 --suffix before] [--hash]

--hash additionally computes a canonical md5 over the FULL sorted
result set (row-repr based) so a rewrite can be proven output-identical
at bench scale, not just at the oracle's sf0.01.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from clip_retrieval_spark.entry_queries import QUERIES  # noqa: E402
from clip_retrieval_spark.session import get_spark  # noqa: E402


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _result_hash(df) -> str:
    rows = df.collect()
    canon = sorted(repr(tuple(r)) for r in rows)
    h = hashlib.md5()
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return f"{len(rows)}:{h.hexdigest()}"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf1.0")
    )
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None, help="dir for explain output")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--hash", action="store_true")
    args = ap.parse_args()

    cpus = os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    spark = get_spark(
        master=f"local[{cpus}]", app_name="bench_extra",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    names = [q.strip() for q in args.queries.split(",") if q.strip()]
    # warm-up (JVM + Python workers), not timed
    _force(QUERIES["q1_pricing_summary"][0](spark, args.sf_dir))

    out: dict[str, dict] = {}
    for name in names:
        fn = QUERIES[name][0]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        if args.plans:
            import contextlib
            import io

            os.makedirs(args.plans, exist_ok=True)
            df = fn(spark, args.sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(
                os.path.join(args.plans, f"{name}_{args.suffix}.txt"), "w"
            ) as fh:
                fh.write(buf.getvalue())
        samples = []
        for _ in range(args.runs):
            t0 = time.monotonic()
            _force(fn(spark, args.sf_dir))
            samples.append(round(time.monotonic() - t0, 3))
        rec: dict = {
            "runs": samples,
            "median": round(statistics.median(samples), 3),
            "min": min(samples),
        }
        if args.hash:
            rec["hash"] = _result_hash(fn(spark, args.sf_dir))
        out[name] = rec
        spark.sparkContext.setJobDescription(None)

    print(json.dumps({
        "sf_dir": args.sf_dir,
        "cpus": int(cpus),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "queries": out,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
