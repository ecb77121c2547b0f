"""Driver-contract equivalence: run every queries() entry on Spark and its
oracle_sql() on DuckDB over the same parquet tables; compare row count,
column names, and order-insensitive values — a local mirror of the
driver's CORRECTNESS gate."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry_mod
from BENCH.result_hash import _rowset

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


_ORACLES = entry_mod.oracle_sql()


def _assert_matches_oracle(spark, con, name, sf):
    """Spark's ``queries()[name]`` at ``sf`` against its DuckDB oracle on
    ``con``: same columns, same row count, same canonical rowset."""
    sdf = entry_mod.queries()[name](spark, sf)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]
    res = con.execute(_ORACLES[name])
    d_cols = [c[0].lower() for c in res.description]
    d_rows = res.fetchall()
    assert sorted(s_cols) == sorted(d_cols), (s_cols, d_cols)
    assert len(s_rows) == len(d_rows), (len(s_rows), len(d_rows))
    sset, dset = _rowset(s_cols, s_rows), _rowset(d_cols, d_rows)
    mismatches = [(a, b) for a, b in zip(sset, dset) if a != b]
    assert not mismatches, mismatches[:3]


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_query_matches_oracle(spark, ddb, name):
    _assert_matches_oracle(spark, ddb, name, SF_DIR)


def test_every_query_is_oracled():
    """Registry discipline: every queries() entry must carry a DuckDB
    oracle — a new query landing without one regresses the driver's
    correctness gate to a weaker rows-only check."""
    assert set(entry_mod.queries()) == set(_ORACLES)


@pytest.mark.parametrize(
    "name",
    [
        "contamination_ngrams",
        "sample_stratified",
        "url_canonicalize",
        "chunk_dedup_ratio",
        "doc_communities_lpa",
        "events_scd2_intervals",
        "semantic_dedup_keep",
        "lm_perplexity",
        "link_prediction_topk",
        "quality_percentiles",
        "distinct_sketch_kmv",
        "doc_kcore_members",
        "incremental_dedup_batches",
        "docs_rollup_source_lang",
        "events_pivot_types",
        "events_moving_avg",
        "topk_tokens_by_source",
        "topk_tokens_sketch",
        "kg_ntriples_export",
        "kg_twohop_paths",
        "doc_bfs_distances",
        "hll_distinct_sketch",
        "blocking_key_stats",
        "sample_weighted",
        "events_value_deciles",
        "dedup_containment_pairs",
        "cluster_agreement_metrics",
        "chunk_strip_docs",
        "token_entropy_by_source",
        "source_overlap_matrix",
        "pmi_bigrams_topk",
        "events_trend_slopes",
        "embedding_dim_correlations",
        "kg_incremental_merge",
        "kg_triple_provenance",
        "kg_snapshot_diff",
        "kwic_concordance",
        "zipf_fit_by_source",
        "er_snm_pairs",
        "link_negative_samples",
        "hist_quantile_sketch",
        "chunk_windows_rag",
        "events_anomaly_days",
        "stats_drift_dumps",
        "sessions_overlap_pairs",
        "exact_rank_selection",
        "events_funnel_ordered",
        # rotated out of the driver window in r5 — second-scale cover
        # replaces their driver row
        "token_stats",
        "doc_fingerprints",
        "ann_topk_bruteforce",
        "quality_scores",
        "dedup_jaccard_pairs",
        "lang_id_stopwords",
        "dedup_simhash",
        "dedup_minhash_lsh",
        "dedup_exact",
    ],
)
def test_newest_gates_match_oracle_second_scale(spark, name):
    """The newest gates, verified at a SECOND scale (sf0.001) so a
    scale-dependent regression (e.g. a sampling-hash boundary or a
    short-document edge case) surfaces in pytest, not only in the
    driver's sf0.01 round."""
    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'"
        )
    _assert_matches_oracle(spark, con, name, sf)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_chunk_dedup_short_docs_edge(spark, tmp_path):
    """Docs with fewer than 8 tokens must produce NO chunk rows on
    either engine (regression: Spark's sequence(1, 0) is the DESCENDING
    [1, 0], which once emitted two phantom chunks per short doc)."""
    import duckdb as _dd

    import clip_retrieval_spark.entry_queries as eq

    sf = str(tmp_path)
    rows = [
        (1, "only seven tokens are present right here", "en", "s", 40),
        (2, "a b c d e f g h i j k l m n o p", "en", "s", 30),
        (3, "a b c d e f g h i j k l m n o p", "en", "s", 30),
        (4, "", "en", "s", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    sdf = eq.chunk_dedup_ratio(spark, sf)
    s_rows = {r["doc_id"]: (r["n_chunks"], r["n_dup_chunks"])
              for r in sdf.collect()}
    # doc 1 (7 tokens) and doc 4 (empty) have no chunks -> absent;
    # docs 2/3 share both 8-token chunks -> all duplicated
    assert s_rows == {2: (2, 2), 3: (2, 2)}

    con = _dd.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" '{sf}/documents.parquet/*.parquet'"
    )
    d_rows = {
        r[0]: (r[1], r[2])
        for r in con.execute(eq.CHUNK_DEDUP_SQL).fetchall()
    }
    assert d_rows == s_rows


@pytest.mark.parametrize(
    "name",
    [
        "token_entropy_by_source",
        "pmi_bigrams_topk",
        "events_trend_slopes",
        "embedding_dim_correlations",
        "cluster_agreement_metrics",
        "zipf_fit_by_source",
    ],
)
def test_float_gates_partitioning_invariant(spark, name):
    """The float-valued analytics gates sum doubles whose add order
    varies with partitioning; their ROUNDED outputs must not. Run each
    gate under three shuffle-partition settings and require identical
    canonical rowsets — a rounding-boundary instability surfaces here
    before it flakes the driver's correctness round."""
    fn = entry_mod.queries()[name]
    sf = "/root/testdata/sf0.001"
    results = []
    for parts in ("2", "32", "7"):
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        df = fn(spark, sf)
        cols = [c.lower() for c in df.columns]
        results.append(_rowset(cols, [tuple(r) for r in df.collect()]))
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    assert results[0] == results[1] == results[2]


def test_hist_quantile_ignores_null_values(spark, tmp_path):
    """NULL values form no histogram bin on either engine (Spark sorts a
    NULL bin first, DuckDB last, so counting one splits the engines)."""
    sf = str(tmp_path)
    rows = [("a", 5.0), ("a", 15.0), ("a", 25.0), ("a", None), ("a", None),
            ("a", None), ("b", 1.0), ("b", None)]
    pq.write_table(
        pa.table({"event_type": [r[0] for r in rows],
                  "value": [r[1] for r in rows]}),
        f"{sf}/events.parquet",
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
    _assert_matches_oracle(spark, con, "hist_quantile_sketch", sf)
    got = {r["event_type"]: (r["n"], r["p50_est"], r["p99_est"])
           for r in entry_mod.queries()["hist_quantile_sketch"](
               spark, sf).collect()}
    assert got == {"a": (3, 10.0, 20.0), "b": (1, 0.0, 0.0)}
