"""Physical-plan assertions: the optimizations the engine claims must be
visible in the plan (filter pushdown, column pruning, broadcast joins,
top-k specializations). A regression here means a silent 100x at scale.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from clip_retrieval_spark.entry_queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = QUERIES[name][0](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize(
    "name,needle",
    [
        ("q3_top_revenue_orders", "BroadcastHashJoin"),
        ("q5_nation_revenue", "BroadcastHashJoin"),
        ("sort_topn_lineitems", "TakeOrderedAndProject"),
        ("window_top3_orders", "WindowGroupLimit"),
        ("semi_join_customers", "LeftSemi"),
        ("anti_join_customers", "LeftAnti"),
    ],
    ids=lambda x: str(x)[:28],
)
def test_expected_physical_operator(spark, name, needle):
    assert needle in _plan(spark, name), name


def test_q1_filter_pushdown_and_pruning(spark):
    p = _plan(spark, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in p  # predicate reached the scan
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    cols = m.group(1)
    assert "l_partkey" not in cols and "l_tax" not in cols  # pruned
    assert cols.count(":") == 6  # exactly the needed columns


def test_part_string_filter_pushdown(spark):
    p = _plan(spark, "filter_project_parts")
    assert "StringContains(p_type,BRASS)" in p
    assert "GreaterThanOrEqual(p_size,40)" in p


def test_extraction_stage_is_narrow(spark):
    """Stages 1+2 must plan with ZERO exchanges (pure mapInArrow over
    the scan) — a shuffle here would be a 100TB-scale disaster."""
    from clip_retrieval_spark.fixtures import pages_df
    from clip_retrieval_spark.operators.extract import extract_pages
    from clip_retrieval_spark.operators.triples import (
        extract_and_triples_df,
        extract_triples_df,
    )

    pages = pages_df(spark, 10)
    for df in (
        extract_triples_df(extract_pages(pages)),
        extract_and_triples_df(pages),
    ):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        assert "Exchange" not in buf.getvalue()


def test_ann_lsh_single_corpus_scan(spark):
    """rp_lsh_topk must scan each side ONCE (bucket array + explode),
    not n_tables unionByName rescans.

    The regression form is a Union of n_tables re-scans, so assert the
    plan is Union-free and the *tree section* holds at most 2 scans.
    (Counting mentions across the whole formatted output is
    order-dependent: exchange/subquery reuse from earlier queries in
    the shared JVM can collapse a details entry — seen as a 4-vs-3
    flake in round 2.)
    """
    p = _plan(spark, "ann_lsh_bucketed")
    assert "Union" not in p, "n_tables rescan union is back"
    tree = p.split("\n\n", 1)[0]
    n_scans = tree.count("Scan parquet")
    assert 1 <= n_scans <= 2, (n_scans, tree)


def test_embedding_neardup_is_distributed(spark):
    """The exact range self-join must be the block-pair applyInPandas
    plan — never a driver-collected closure matrix."""
    p = _plan(spark, "embedding_neardup_pairs")
    assert "FlatMapGroupsInPandas" in p
    assert "CollectLimit" not in p


def test_session_scale_configs(spark):
    """The skew/AQE posture the engine documents must actually be set."""
    conf = spark.conf
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    assert conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert conf.get("spark.sql.session.timeZone") == "UTC"


def test_asof_join_single_keyed_shuffle(spark):
    """The as-of join must plan as ONE shuffle on the key (the union-tag
    + running-window form) — a range join here explodes quadratically on
    hot keys at scale."""
    p = _plan(spark, "events_asof_join")
    # no join operator at all: the as-of is a window over a union
    assert "Join" not in p, p
    exchanges = re.findall(r"hashpartitioning\(user_id", p)
    # exactly one keyed shuffle (formatted explain lists each physical
    # node once in the details section)
    assert len(exchanges) == 1, exchanges


def test_ivf_corpus_never_shuffles(spark):
    """ivf_topk: centroid assignment must be a NARROW argmax expression
    (no window -> no hashpartitioning of corpus rows by cid); probes are
    broadcast. The only keyed exchange is the final per-query top-k."""
    p = _plan(spark, "ann_ivf_topk")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert not re.search(r"hashpartitioning\(cid", p), "corpus shuffled"
    assert len(re.findall(r"hashpartitioning\(qid", p)) == 1


def test_kmeans_assignment_is_narrow(spark):
    """assign_cells must be a narrow fold over the constant-folded
    codebook literal: NO join of any kind and NO exchange of corpus
    rows — strictly narrower than the earlier broadcast-row shape
    (r6: the codebook is collected driver-side and rides as a
    literal, so even the BroadcastExchange is gone)."""
    from pyspark.sql import functions as F

    from clip_retrieval_spark.operators.kmeans import assign_cells

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").cast("int").alias("cell_id"),
        F.expr(
            "transform(embedding, x -> cast(x as double))"
        ).alias("centroid"),
    )
    df = assign_cells(emb, cents)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "Join" not in p, "assignment must not join"
    assert "Exchange" not in p, "corpus shuffled"


def test_pq_encode_is_narrow(spark):
    """pq_encode must plan as a single broadcast-fed projection over the
    corpus scan — no exchange of corpus rows at all."""
    from pyspark.sql import functions as F

    from clip_retrieval_spark.operators.pq import pq_encode

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cb = (
        emb.filter(F.col("vec_id") < 8)
        .selectExpr(
            "cast(vec_id as int) as cell_id",
            "explode(sequence(0, 7)) as sub",
            "embedding",
        )
        .selectExpr(
            "sub", "cell_id",
            "transform(slice(embedding, sub*8+1, 8),"
            " x -> cast(x as double)) as centroid",
        )
    )
    df = pq_encode(
        emb.selectExpr("vec_id as cid", "embedding as c_emb"), cb, dim=64
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "SortMergeJoin" not in p
    assert not re.search(r"hashpartitioning\(cid", p), "corpus shuffled"


def test_lsh_band_join_keys_are_longs(spark):
    """The bucket shuffles of candidate_pairs (bucket counts, the
    self-join, the chain windows) must be keyed by (band, sig) and ids
    (8-byte longs), never the raw text: near-dup dedup feeds whole
    documents through this path, and a string key would move corpus
    byte volume through every exchange. The signatures themselves are
    computed per row, with no shuffle (test_lsh_explode_is_narrow)."""
    from pyspark.sql import functions as F

    from clip_retrieval_spark.operators.lsh import candidate_pairs

    df = spark.range(64).select(
        F.col("id").alias("entity_id"),
        F.concat(F.lit("doc text body "), F.col("id")).alias("surface"),
    )
    pairs = candidate_pairs(df, max_bucket=16)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pairs.explain("formatted")
    p = buf.getvalue()
    # every hashpartitioning key in the plan is a long column or
    # xxhash64 output — no exchange keyed on the surface string
    assert not re.search(r"hashpartitioning\([^)]*surface", p), p
    assert not re.search(r"hashpartitioning\(_t#", p), p


def test_lsh_explode_is_narrow(spark, tmp_path):
    """lsh_explode computes each row's MinHash signature from its own
    shingles: its plan has no exchange. entity_pairs then costs one
    broadcast of the linked side's band table and one hash exchange,
    the dropDuplicates of the scored pairs."""
    from clip_retrieval_spark.operators.embed import entities_df
    from clip_retrieval_spark.operators.link import entity_pairs
    from clip_retrieval_spark.operators.lsh import lsh_explode

    surfaces = [f"Entity{i}" for i in range(40)] + ["Acme Corp", "Acme"]
    entities_df(
        spark.createDataFrame([(s,) for s in surfaces], "surface string")
    ).write.parquet(str(tmp_path / "entities"))
    e = spark.read.parquet(str(tmp_path / "entities"))

    def formatted(df) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    p = formatted(lsh_explode(e, "surface"))
    assert "Exchange" not in p, p
    p = formatted(entity_pairs(e))
    exchanges = re.findall(r"^\(\d+\) (\w*Exchange)\b", p, re.M)
    assert sorted(exchanges) == ["BroadcastExchange", "Exchange"], p


def test_semantic_dedup_one_keyed_shuffle_broadcast_codebook(spark):
    """SemDeDup must plan as: broadcast codebook -> narrow assignment
    -> ONE hashpartitioning(cell_id) exchange into the per-cell pandas
    gram — the corpus is shuffled exactly once, by cell."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from clip_retrieval_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = (
        emb.orderBy("vec_id")
        .limit(4)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1)
            .cast("int")
            .alias("cell_id"),
            F.col("embedding").alias("centroid"),
        )
    )
    out = semantic_dedup(emb, cents, threshold=0.3)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    p = buf.getvalue()
    assert "FlatMapGroupsInPandas" in p
    # r6: the codebook is a constant-folded literal — no broadcast, no
    # join; exactly one corpus exchange, keyed by the cell id
    assert "Join" not in p
    keys = re.findall(r"hashpartitioning\((\w+)", p)
    assert keys and all(k.startswith("cell_id") for k in keys), keys


def test_lm_perplexity_counts_are_map_side_combinable(spark):
    """The bigram LM's count tables must plan with partial (map-side)
    aggregation — hub contexts are absorbed before the shuffle — and
    the corpus-level vocab scalar must join by broadcast, never a
    shuffle of the scored rows."""
    p = _plan(spark, "lm_perplexity")
    assert "partial_count" in p  # map-side combine on bigram counts
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_rollup_is_single_expand_pass(spark):
    """ROLLUP must plan as ONE Expand + hash aggregate over one scan —
    not a union of three scans/aggregations."""
    p = _plan(spark, "docs_rollup_source_lang")
    assert p.count("Expand") >= 1
    assert "Union" not in p
    tree = p.split("\n\n", 1)[0]
    assert tree.count("Scan parquet") == 1, tree


def test_pivot_explicit_values_single_aggregate(spark):
    """Pivot with an explicit value list must not run a distinct-values
    pre-job or union per-type scans: one scan, pivot aggregate."""
    p = _plan(spark, "events_pivot_types")
    tree = p.split("\n\n", 1)[0]
    assert tree.count("Scan parquet") == 1, tree
    assert "Union" not in p


def test_count_min_estimate_broadcasts_sketch(spark):
    """The CM sketch point-query path must broadcast the finished
    depth x width grid (a few KB) — candidate keys never shuffle
    toward the sketch, and no sort-merge join appears."""
    p = _plan(spark, "topk_tokens_sketch")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_bfs_round_is_partial_min_agg_no_cartesian(spark):
    """Each BFS round must fold reaches with a PARTIAL (map-side) min
    aggregation — hub fan-in is absorbed before the shuffle — and the
    frontier join must be a real equi-join, never a cartesian."""
    from pyspark.sql import functions as F

    from clip_retrieval_spark.operators.graph import bfs_distances

    edges = spark.range(200).select(
        (F.col("id") % 50).alias("src"),
        ((F.col("id") * 7) % 50).alias("dst"),
    )
    seeds = spark.range(2).select(F.col("id").alias("node"))
    df = bfs_distances(edges, seeds, rounds=2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "partial_min" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_twohop_joins_aggregated_pairs_not_raw_edges(spark):
    """The two-hop motif self-join must consume the AGGREGATED
    entity-pair counts (a HashAggregate feeds each join side), never
    the raw edge table — multiplicity products, not row explosion."""
    p = _plan(spark, "kg_twohop_paths")
    joins = [
        ln for ln in p.splitlines() if "SortMergeJoin" in ln
        or "ShuffledHashJoin" in ln or "BroadcastHashJoin" in ln
    ]
    assert joins, p
    # both inputs to the motif join are post-aggregation: the plan
    # carries the count alias (cnt) into the join keys' subtree
    assert "partial_count" in p
    assert "CartesianProduct" not in p


def test_ntriples_export_is_map_only_after_edges(spark):
    """N-Triples serialization adds NO exchange beyond what the edge
    materialization itself requires: the serialize step is a project
    over the edge output (same exchange count as kg_nodes_edges)."""
    p_edges = _plan(spark, "kg_nodes_edges")
    p_nt = _plan(spark, "kg_ntriples_export")
    n_ex_edges = p_edges.count("Exchange")
    n_ex_nt = p_nt.count("Exchange")
    assert n_ex_nt <= n_ex_edges, (n_ex_nt, n_ex_edges)


def test_hll_register_table_is_algebraic(spark):
    """The HLL register fold must be a partial max aggregation
    (map-side combinable — O(m) state per group at any scale)."""
    p = _plan(spark, "hll_distinct_sketch")
    assert "partial_max" in p
    assert "CartesianProduct" not in p


def test_blocking_topk_is_window_group_limit(spark):
    """The blocking-profile top-20 must plan as a pruned ranked
    window — WindowGroupLimit (grouped) or TakeOrderedAndProject
    feeding the Window (global rank: only the top rows reach the
    window at all) — never a full sort of every block."""
    p = _plan(spark, "blocking_key_stats")
    assert "WindowGroupLimit" in p or "TakeOrderedAndProject" in p, p


def test_weighted_sample_is_ranked_window_prune(spark):
    """A-Res weighted sampling must plan as a grouped ranked-window
    prune (WindowGroupLimit) — per-source top-5 keys, never a full
    sort of the corpus."""
    p = _plan(spark, "sample_weighted")
    assert "WindowGroupLimit" in p, p


def test_deciles_single_hash_shuffle(spark):
    """Decile binning costs ONE keyed hash shuffle: the ntile window
    partitions by event_type and the (event_type, decile) aggregation
    reuses that partitioning (subset-clustering satisfaction) — no
    second hash exchange."""
    p = _plan(spark, "events_value_deciles")
    n_hash_ex = len(re.findall(r"hashpartitioning\(event_type", p))
    assert n_hash_ex == 1, p
    assert "partial_count" in p  # decile agg is map-side combinable


def test_containment_join_is_equi_join_no_cartesian(spark):
    """The containment similarity join must stay a (source, tok)
    equi-join with algebraic pair counts — identical shape to the
    Jaccard join; a nested-loop pair enumeration would be O(n^2) at
    corpus scale."""
    p = _plan(spark, "dedup_containment_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_count" in p


def test_cluster_agreement_never_materializes_pairs(spark):
    """Pair-counting metrics must come from contingency-cell choose-2
    ALGEBRA (partial sums over label cells), never an explicit pair
    join: the only non-equi meet allowed is the broadcast cross of the
    three one-row totals."""
    p = _plan(spark, "cluster_agreement_metrics")
    assert "CartesianProduct" not in p
    assert "partial_sum" in p
    # the label join (doc_id) and the one-row meets are the only joins;
    # none of them may be keyed on a pair of document ids
    assert "SortMergeJoin [a#" not in p and "doc_pair" not in p


def test_chunk_strip_dup_join_is_equi_keyed(spark):
    """The duplicate-chunk set joins back by its md5 key — an
    equi-join (hash or sort-merge), never a nested loop; the rebuild
    aggregation is the only wide stage past it."""
    p = _plan(spark, "chunk_strip_docs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_token_entropy_is_join_free_algebraic(spark):
    """Entropy via log2(N) - sum(c*log2 c)/N folds out of per-(source,
    tok) counts with NO join anywhere — two chained hash aggregations,
    both map-side combinable (hub tokens fold before the shuffle)."""
    p = _plan(spark, "token_entropy_by_source")
    for j in ("SortMergeJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct",
              "ShuffledHashJoin"):
        assert j not in p, j
    assert "partial_count" in p


def test_source_overlap_joins_on_hash_equi(spark):
    """The cross-source overlap join must be an equi-join on the chunk
    hash over the distinct (source, chunk) surface — per-key fanout is
    bounded by the source count, and pair counts stay algebraic."""
    p = _plan(spark, "source_overlap_matrix")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_count" in p


def test_pmi_topk_is_take_ordered(spark):
    """The PMI top-20 must plan as TakeOrderedAndProject (per-partition
    heap), never a full sort of the bigram vocabulary; the corpus-total
    scalar joins by broadcast."""
    p = _plan(spark, "pmi_bigrams_topk")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "partial_count" in p and "partial_sum" in p


def test_trend_slopes_single_algebraic_agg(spark):
    """OLS trends must be ONE join-free hash aggregation — the regr_*
    functions decompose into partial sums (map-side combinable)."""
    p = _plan(spark, "events_trend_slopes")
    for j in ("SortMergeJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct",
              "ShuffledHashJoin"):
        assert j not in p, j
    assert "partial_regr_slope" in p


def test_dim_correlations_one_pass_no_joins(spark):
    """All 28 pairwise correlations must come from ONE hash-agg pass
    over the scan (partial_corr is algebraic); the stack() unpivot runs
    on the per-label aggregated output, and there is no join and no
    explode of the vector column feeding the aggregate."""
    p = _plan(spark, "embedding_dim_correlations")
    for j in ("SortMergeJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct",
              "ShuffledHashJoin"):
        assert j not in p, j
    assert "partial_corr" in p


def test_incremental_merge_is_full_outer_of_aggregates(spark):
    """The snapshot merge must be ONE full-outer equi-join of two
    already-aggregated edge tables (partial_count before the join on
    both sides) — never a re-aggregation of unioned raw triples and
    never a nested loop."""
    p = _plan(spark, "kg_incremental_merge")
    assert "FullOuter" in p
    assert "partial_count" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_provenance_rollup_join_free_algebraic(spark):
    """Triple provenance is one hash aggregation keyed by the triple —
    min/max are algebraic, the two count-distincts share one Expand,
    and there is no join anywhere."""
    p = _plan(spark, "kg_triple_provenance")
    for j in ("SortMergeJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct",
              "ShuffledHashJoin"):
        assert j not in p, j
    assert "partial_min" in p and "partial_max" in p


def test_snapshot_diff_full_outer_of_aggregates(spark):
    """The snapshot diff, like the merge, must join two ALREADY
    AGGREGATED edge tables full-outer — raw triples never cross the
    join, and the status classification is a projection."""
    p = _plan(spark, "kg_snapshot_diff")
    assert "FullOuter" in p
    assert "partial_count" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_kwic_positions_found_in_row_no_token_explode(spark):
    """KWIC must locate occurrences INSIDE the row (higher-order filter
    over a sequence) so only matches fan out — never a join, never a
    per-token corpus explode feeding a shuffle (no hash exchange at
    all: the only exchange is the final presentation sort)."""
    p = _plan(spark, "kwic_concordance")
    for j in ("SortMergeJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct",
              "ShuffledHashJoin"):
        assert j not in p, j
    assert "hashpartitioning" not in p


def test_zipf_fit_ranked_window_prune_then_algebraic_regression(spark):
    """The Zipf fit must prune to the top-100 ranks per source inside
    the window (WindowGroupLimit — the vocabulary is never fully
    sorted) and fit with the algebraic regr_* partials; no joins."""
    p = _plan(spark, "zipf_fit_by_source")
    assert "WindowGroupLimit" in p
    assert "partial_regr_slope" in p
    for j in ("SortMergeJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in p, j


def test_snm_window_is_block_partitioned(spark):
    """Sorted-neighborhood blocking must sort WITHIN 2-char blocks
    (window partitioned by blk — a bounded per-block sort), never as
    a global single-partition window, and must stay join-free: the
    candidate pairs come from lead() adjacency, not a self-join."""
    p = _plan(spark, "er_snm_pairs")
    assert re.search(r"hashpartitioning\(blk", p), p
    for j in ("SortMergeJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in p, j


def test_negative_sampling_broadcasts_vocab_size(spark):
    """Negative sampling must join the vocabulary SIZE as a broadcast
    scalar (never shuffling the edge set against it) and screen false
    negatives with a left-anti equi-join."""
    p = _plan(spark, "link_negative_samples")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_hist_quantile_single_algebraic_pass(spark):
    """The histogram quantile sketch must reduce the raw event stream
    in ONE algebraic (type, bin) count — map-side combine visible as
    partial_count — with the cumulative window and the final agg
    running on the ~50-bins-per-type histogram, and no joins at all."""
    p = _plan(spark, "hist_quantile_sketch")
    assert "partial_count" in p
    for j in ("SortMergeJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in p, j


def test_chunk_windows_is_narrow_explode_no_shuffle(spark):
    """RAG chunking must be ONE narrow projection + explode (fanout
    n_tokens/stride per doc) — zero joins and zero hash exchanges; the
    only exchange is the gate's presentation orderBy (range)."""
    p = _plan(spark, "chunk_windows_rag")
    assert "Generate" in p  # the posexplode fanout
    assert "hashpartitioning" not in p, p
    for j in ("SortMergeJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in p, j


def test_anomaly_days_broadcasts_tiny_stats(spark):
    """The MAD anomaly gate's only full-data pass is the algebraic
    (type, day) count; median/MAD tables are days x types sized and
    must join back BROADCAST — a sort-merge join here would shuffle
    the daily table pointlessly and, worse, signal the optimizer lost
    the size information at scale."""
    p = _plan(spark, "events_anomaly_days")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "partial_count" in p


def test_stats_drift_is_single_pass_join_free(spark):
    """Cross-dump drift must be ONE conditional-aggregation pass —
    both dumps are filters inside the aggregate, so the comparison
    costs one scan regardless of dump count; zero joins."""
    p = _plan(spark, "stats_drift_dumps")
    assert "partial_count" in p
    for j in ("SortMergeJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in p, j


def test_overlap_join_is_bucketed_equi_join(spark):
    """The interval-overlap gate must meet candidates in an EQUI-join
    on the bucket id — never a nested-loop range join — and keep only
    the top-20 pairs via TakeOrderedAndProject."""
    p = _plan(spark, "sessions_overlap_pairs")
    assert re.search(r"hashpartitioning\(bkt", p) or "bkt" in p
    for j in ("BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in p, j
    assert "TakeOrderedAndProject" in p


def test_funnel_stages_reuse_user_partitioning(spark):
    """The ordered funnel must stay keyed by user_id end-to-end —
    algebraic min aggregations (map-side combinable) and keyed equi-
    joins; never a nested-loop stage chain."""
    p = _plan(spark, "events_funnel_ordered")
    assert "partial_min" in p
    for j in ("BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in p, j
