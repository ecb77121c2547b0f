"""Dump-over-dump KG maintenance with snapshot history — the composed
form of the kg_incremental_merge gate: each crawl dump's triples are
aggregated and merged into the standing edge table via
operators.materialize.merge_weighted_edges, and every merge is
published as a SnapshotStore commit, so the edge table keeps a full
time-travelable history and any bad dump can be rolled back in O(1)
metadata (the incremental counterpart of the reference's full index
rebuild + manual file juggling, reference clip_back.py:539-566).

    # apply dump 0, then dump 1, each as one snapshot commit
    python jobs/update_kg.py --store /tmp/kg_hist --n-pages 1000 --dump-id 0
    python jobs/update_kg.py --store /tmp/kg_hist --n-pages 1000 --dump-id 1

    # dump 1 was bad: metadata-only rollback to the dump-0 snapshot
    python jobs/update_kg.py --store /tmp/kg_hist --rollback 1

Dump ``k`` is the deterministic fixture corpus seeded by ``seed + k``
(disjoint content per dump, reproducible across runs/engines — no
external data). Scale shape: the per-dump aggregation is map-side
combinable, the merge is ONE full-outer hash join of two already-
aggregated edge tables (bucketable by the edge key at cluster scale),
and the snapshot commit is an immutable dir + an atomic manifest
rename — readers of the standing table never see a half-applied dump.

Prints one JSON line:
  {"dump_id": k, "snapshot_id": s, "n_edges": N, "total_weight": W,
   "wall_sec": t}
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

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from clip_retrieval_spark.session import get_spark  # noqa: E402

EDGE_TABLE = "edges_agg"


def dump_edges(spark, n_pages: int, dump_id: int, seed: int) -> DataFrame:
    """One crawl dump's (subj, obj, weight) aggregate through the real
    stage-1/2 operators."""
    from clip_retrieval_spark.fixtures import pages_df
    from clip_retrieval_spark.operators.materialize import edge_weights
    from clip_retrieval_spark.operators.triples import extract_and_triples_df

    pages = pages_df(spark, n_pages, seed=seed + dump_id)
    return edge_weights(extract_and_triples_df(pages))


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--store", required=True,
                    help="SnapshotStore root for the standing edge table")
    ap.add_argument("--n-pages", type=int, default=1000)
    ap.add_argument("--dump-id", type=int, default=0)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--rollback", type=int, default=None,
                    help="roll the edge table back to this snapshot id "
                         "(a metadata-only commit), count its edges with "
                         "a Spark count() and exit")
    ap.add_argument("--keep-last", type=int, default=None,
                    help="after committing, expire all but the last K "
                         "snapshots (K >= 1) and GC unreferenced dirs")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)
    if args.keep_last is not None and args.keep_last < 1:
        ap.error("--keep-last must be >= 1")

    from clip_retrieval_spark.io import SnapshotStore  # noqa: E402
    from clip_retrieval_spark.operators.materialize import (  # noqa: E402
        merge_weighted_edges,
    )

    t0 = time.monotonic()
    spark = get_spark(master=args.master)
    store = SnapshotStore(spark, args.store)

    if args.rollback is not None:
        sid = store.rollback(EDGE_TABLE, args.rollback)
        out = {
            "rolled_back_to": args.rollback,
            "snapshot_id": sid,
            "n_edges": store.read(EDGE_TABLE).count(),
            "wall_sec": round(time.monotonic() - t0, 3),
        }
        print(json.dumps(out))
        return out

    delta = dump_edges(spark, args.n_pages, args.dump_id, args.seed)
    if store.current_snapshot_id(EDGE_TABLE):
        merged = merge_weighted_edges(store.read(EDGE_TABLE), delta)
    else:
        merged = delta
    # the merge result REPLACES the standing aggregate (an upserted
    # table, not an append-only log) — overwrite commit; history stays
    # readable via time travel until expired
    sid = store.overwrite(merged, EDGE_TABLE)

    cur = store.read(EDGE_TABLE)
    agg = cur.agg(
        F.count("*").alias("n"), F.sum("weight").alias("w")
    ).collect()[0]
    dropped = (
        store.expire_snapshots(EDGE_TABLE, keep_last=args.keep_last)
        if args.keep_last is not None
        else []
    )
    out = {
        "dump_id": args.dump_id,
        "snapshot_id": sid,
        "n_edges": int(agg["n"]),
        "total_weight": int(agg["w"]),
        "expired_dirs": len(dropped),
        "wall_sec": round(time.monotonic() - t0, 3),
    }
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main()
