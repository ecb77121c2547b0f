"""Phase profile of doc_communities_lpa at a given sf (guide §1):
times (a) the jaccard edge derivation alone, (b) edges + eager
checkpoint, (c) the full gate — so the LPA-rounds share of wall is
isolated from the upstream similarity join."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402

from clip_retrieval_spark.entry_queries import (  # noqa: E402
    QUERIES,
    dedup_jaccard_pairs,
)
from clip_retrieval_spark.operators.graph import (  # noqa: E402
    label_propagation_min,
    undirect,
)
from clip_retrieval_spark.session import get_spark  # noqa: E402


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    cpus = os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    spark = get_spark(master=f"local[{cpus}]", app_name="profile_lpa",
                      shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    for i in range(runs):
        sc.setJobDescription(f"jaccard-only run{i}")
        t0 = time.time()
        _noop(dedup_jaccard_pairs(spark, sf))
        t1 = time.time()

        sc.setJobDescription(f"edges-checkpoint run{i}")
        edges = (
            dedup_jaccard_pairs(spark, sf)
            .filter(F.col("jaccard") >= 0.8)
            .select(F.col("a").alias("src"), F.col("b").alias("dst"))
        )
        t2 = time.time()
        und = undirect(edges).localCheckpoint(eager=True)
        n_edges = und.count()
        t3 = time.time()

        sc.setJobDescription(f"full-gate run{i}")
        t4 = time.time()
        _noop(QUERIES["doc_communities_lpa"][0](spark, sf))
        t5 = time.time()

        print(
            f"run{i}: jaccard_noop={t1 - t0:.2f}s "
            f"edge_checkpoint={t3 - t2:.2f}s (und rows {n_edges}) "
            f"full_gate={t5 - t4:.2f}s "
            f"implied_lpa_rounds={t5 - t4 - (t3 - t2):.2f}s",
            flush=True,
        )

    spark.stop()


if __name__ == "__main__":
    main()
