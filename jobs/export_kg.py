"""Ship the materialized KG as RDF N-Triples — the interchange
artifact downstream consumers (triple stores, SPARQL loaders) ingest,
the stage-4 analog of the reference packaging its built index for
clip_back to serve (reference clip_back.py:539-566).

    python jobs/export_kg.py --kg-dir /tmp/kg --out /tmp/kg_nt

    spark-submit --py-files dist/clip_retrieval_spark.zip \
        jobs/export_kg.py --kg-dir /data/kg --out /data/kg_nt

Reads the pipeline's ``nodes``/``edges`` tables
(plans/pipeline.py STAGE_TABLES), resolves each canonical endpoint to
its representative surface (operators.materialize.surface_edges, the
kg_nodes_edges gate's rule), serializes with
operators.materialize.to_ntriples (RDF 1.1 IRIREF percent-escaping,
pure JVM string fns), and writes gzip-compressed text files.

Scale shape: both endpoint resolutions are broadcast joins (no
shuffle of the edge table); the serialize itself is a map-only
projection (plan-asserted for the gate variant, PLANS.md) and the
write is the job's cost. Prints one JSON line:
{"n_triples": N, "out": dir, "wall_sec": s}.
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


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--kg-dir", required=True,
                    help="KGPipeline output dir (holds nodes/, edges/)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from clip_retrieval_spark.io import TableStore  # noqa: E402
    from clip_retrieval_spark.operators.materialize import (  # noqa: E402
        surface_edges,
        to_ntriples,
    )
    from clip_retrieval_spark.plans.pipeline import (  # noqa: E402
        STAGE_TABLES,
    )

    t0 = time.monotonic()
    spark = get_spark(master=args.master)
    store = TableStore(spark, args.kg_dir)
    edges = store.read(STAGE_TABLES["edges"])
    nodes = store.read(STAGE_TABLES["nodes"])

    resolved = surface_edges(edges, nodes)
    nt = to_ntriples(resolved, keep=())
    (
        nt.select("ntriple")
        .write.mode("overwrite")
        .option("compression", "gzip")
        .text(args.out)
    )
    n = spark.read.text(args.out).count()
    result = {
        "n_triples": n,
        "out": args.out,
        "wall_sec": round(time.monotonic() - t0, 2),
    }
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    main()
