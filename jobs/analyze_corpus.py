"""spark-submit entry point for the corpus-health report — the
pre-training go/no-go analysis composed from the engine's analytics
operators:

    per-source entropy profile -> cross-source overlap matrix ->
    per-type drift slopes -> embedding-dim correlation profile ->
    clustering-agreement QA -> per-triple provenance rollup

    spark-submit --py-files dist/clip_retrieval_spark.zip \
        jobs/analyze_corpus.py --sf-dir /root/testdata/sf0.01 \
        --out /tmp/corpus_report

The reference exposes per-query metrics at serve time
(clip_back.py:1009-1015 prometheus endpoint); a corpus being promoted
to training runs the equivalent health checks ONCE, offline, and files
the report next to the data. Every section is a deterministic
aggregate, so reruns produce byte-identical reports (rerun equality is
the integration test's assertion).

Writes one parquet table per section under --out and prints ONE JSON
line of headline indicators: sources below an entropy floor (templated
/ spammy candidates), the worst cross-source overlap pair (syndication
check), the steepest metric drift, the most-correlated embedding dim
pair (encoder-collapse check), clustering P/R/F1 (canonicalization
QA), and the most-asserted triple with its host spread (provenance
sanity).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from clip_retrieval_spark.session import get_spark  # noqa: E402

SECTIONS = (
    "token_entropy_by_source",
    "source_overlap_matrix",
    "events_trend_slopes",
    "embedding_dim_correlations",
    "cluster_agreement_metrics",
    "kg_triple_provenance",
)


def _top1(df, *order) -> dict | None:
    """The first row of a section under ``order`` as a dict, or None
    when the section is empty."""
    rows = (df.orderBy(*order) if order else df).limit(1).collect()
    return rows[0].asDict() if rows else None


def analyze(spark, sf_dir: str, out: str, entropy_floor: float) -> dict:
    from pyspark.sql import functions as F

    from clip_retrieval_spark.entry_queries import QUERIES

    report: dict = {"sections": {}}
    dfs = {}
    for name in SECTIONS:
        df = QUERIES[name][0](spark, sf_dir)
        df.write.mode("overwrite").parquet(os.path.join(out, name))
        dfs[name] = spark.read.parquet(os.path.join(out, name))
        report["sections"][name] = dfs[name].count()

    # headline indicators, each a tiny driver-side read of a section
    ent = dfs["token_entropy_by_source"]
    low = (
        ent.filter(F.col("entropy_bits") < entropy_floor)
        .orderBy("entropy_bits", "source")
        .select("source", "entropy_bits")
        .limit(5)
        .collect()
    )
    report["low_entropy_sources"] = [
        {"source": r["source"], "entropy_bits": r["entropy_bits"]}
        for r in low
    ]

    report["max_overlap_pair"] = _top1(
        dfs["source_overlap_matrix"].select(
            "source_a", "source_b", "shared_chunks"
        ),
        F.desc("shared_chunks"), "source_a", "source_b",
    )
    report["steepest_drift"] = _top1(
        dfs["events_trend_slopes"].select(
            "event_type", "slope_per_day", "r2"
        ),
        F.desc(F.abs(F.col("slope_per_day"))), "event_type",
    )
    report["max_dim_correlation"] = _top1(
        dfs["embedding_dim_correlations"].select(
            "label", "dim_i", "dim_j", "corr"
        ),
        F.desc(F.abs(F.col("corr"))), "label", "dim_i", "dim_j",
    )
    report["cluster_agreement"] = _top1(
        dfs["cluster_agreement_metrics"].select("precision", "recall", "f1")
    )
    report["most_asserted_triple"] = _top1(
        dfs["kg_triple_provenance"].select(
            "subj", "pred", "obj", "n_pages", "n_hosts"
        ),
        F.desc("n_pages"), "subj", "pred", "obj",
    )
    return report


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument("--entropy-floor", type=float, default=4.0)
    args = ap.parse_args(argv)

    spark = get_spark(master=args.master, app_name="kg-analyze-corpus")
    t0 = time.monotonic()
    result = analyze(spark, args.sf_dir, args.out, args.entropy_floor)
    result["wall_sec"] = round(time.monotonic() - t0, 2)
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    main()
