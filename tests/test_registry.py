"""The query registry is one declaration whose order is a contract (the
correctness harness checks the first 50 entries): pin the order
and every (fn, SQL) pair, so a refactor of the registry cannot reorder
it or swap a query's function or oracle unnoticed."""

from __future__ import annotations

import hashlib

from clip_retrieval_spark import entry_queries

# (name, md5 of its oracle SQL), in registry order
PINNED = [
    ("dedup_exact", "32ccacc5f26681003a45b1877bc2c5ee"),
    ("dedup_minhash_lsh", "20b81ecadc884aca6e1dbd4f0acf87fe"),
    ("dedup_simhash", "66dfe0d948a728b6cb9516e62eb087ea"),
    ("dedup_jaccard_pairs", "02e447d0567f5441f4474120742f1683"),
    ("lang_id_stopwords", "9dc559524d452201339c76960440ea3a"),
    ("quality_scores", "80e89288add4814b273093fd271b8e4e"),
    ("token_stats", "c49510ae8dc0500c9969b7cbf0b2de20"),
    ("doc_fingerprints", "651c7b6a390ab645e51cce57a2234324"),
    ("ann_topk_bruteforce", "f4d002bd36667e31dfe34bfe1e239455"),
    ("safety_filter_counts", "9b8da2eec2660960ad397a14295c5da2"),
    ("kg_client_topk", "6751d7749ee7de622ef0e51d453cce38"),
    ("embedding_neardup_pairs", "5780ad1713abef3525146131a311304f"),
    ("skew_salted_agg", "002b0797b1e3a6148c30935813725b11"),
    ("skew_salted_join", "2ece191c77cea1b8698f09af60f5394d"),
    ("ann_lsh_bucketed", "f4d002bd36667e31dfe34bfe1e239455"),
    ("near_dedup_documents", "7bbf89909c11077cadca4ef0dbc23810"),
    ("kg_mentions", "3622c4698ecf38f7aae91461989bf4ba"),
    ("kg_links", "17f64d622033b40773bfc25d18b1974c"),
    ("kg_links_rank1", "ab37cf54f4c2d43ab8bb04a6ef513846"),
    ("kg_nodes_edges", "26732d11214989d10ff3c203f0ff7597"),
    ("bpe_token_counts", "b4e1657777d7bb62f558542a89635a6d"),
    ("events_asof_join", "b241d39f347dfa3abe7f856fed626d27"),
    ("kg_degree_stats", "c36ce5de018303283894a1098904205c"),
    ("kg_pagerank3", "4f8c349a0a2c3995bddcda422aca84fc"),
    ("ann_ivf_topk", "587fa64622f7de73553174cf630f572a"),
    ("kmeans_assign2", "9b41b27dea25538740466989979157f6"),
    ("bm25_topterms", "d548f3c7e2d3f7d161199990fc98a82c"),
    ("doc_triangle_counts", "b3c0b256c08b4722ba027ed3586b8e4c"),
    ("quality_repetition", "9469339e64fba4315ff6bf2de14a7ab0"),
    ("q1_pricing_summary", "3957c182bb84d3578dffc0a8cdb00403"),
    ("q3_top_revenue_orders", "a9e08048c202035fd3ee6871f3e6f81a"),
    ("q5_nation_revenue", "599c6c0411496f6edd7a0d1ec856de7d"),
    ("filter_project_parts", "a33364b93f7daf12b7218254ed3d4a97"),
    ("sort_topn_lineitems", "88736702bd50d5e07ee90084780650e7"),
    ("window_top3_orders", "7ffcc7f97b7bb8dff92b30e9caed951c"),
    ("semi_join_customers", "e556f2ce6e988d3ef036932c07170991"),
    ("anti_join_customers", "4d1021c701846d712f4a5660ef7afa36"),
    ("distinct_agg_orders", "14395c3b01e97d53f7ee8711501449f7"),
    ("set_ops_segments", "9a2f3cdfd54c28b3e6509b9df09f82c7"),
    ("string_functions_parts", "1296d34b8d18e309d291398a0783efcc"),
    ("events_json_extract", "817cad8e7ec5c3e4fc2331c298ce5648"),
    ("events_hourly_rollup", "3072ddc8fa6aacbb6612dac82eb87dfa"),
    ("events_sessionize", "0dcd7ba48d0e2ad69534ed2c459e7439"),
    ("events_latest_per_user", "ea1ce1405ecf16cd166eac1370e87657"),
    ("events_from_json_schema", "30f342bb40a6f118952b254b4bd428ae"),
    ("base64_roundtrip_docs", "1ddf2f776e6110f62a2ade7a554616b2"),
    ("aesthetic_rerank", "dd60de9ca6325a0ed41d70fa6c2b2466"),
    ("label_centroid_norms", "f1cd40a54a031f4f4b704d21ae1fe713"),
    ("pq_adc_search", "51daf2cae41d6f3f929fcc748efd91f9"),
    ("contamination_ngrams", "eba12097a6cfe4dc60f185b53a44527d"),
    ("sample_stratified", "91e18cd09db4d1feb491c55045829723"),
    ("url_canonicalize", "dbf5572637f32f3c43739667364f9884"),
    ("chunk_dedup_ratio", "3e96d0ae9e6829c1fc2aa21df1c56bec"),
    ("doc_communities_lpa", "5f6bac24e801c822412947f22bb95782"),
    ("semantic_dedup_keep", "ad3c4cdf0f0ab3f98d6599ed970441c9"),
    ("lm_perplexity", "14d7611dbbe550fa60586b67e6f35162"),
    ("link_prediction_topk", "c20c649ae22127fe98afc147e32d313c"),
    ("quality_percentiles", "3254e87e66bfcf7d8bff0e0917fbe29d"),
    ("distinct_sketch_kmv", "1f4dd11c323a7bca7613e8b022f553c1"),
    ("doc_kcore_members", "f29eb277f04d1f9a6d618acfbe0ea735"),
    ("incremental_dedup_batches", "dd8aeeadb5058216d5456af3473358e3"),
    ("docs_rollup_source_lang", "aa8d72cc866a66ca4fce4f5b28d506fd"),
    ("events_pivot_types", "8542d0f32eb2248c643c1566e3338620"),
    ("events_moving_avg", "2ee9a79bc78a861b0a6d1395668ea15f"),
    ("topk_tokens_by_source", "864463e98e2b38a0dc61b55da7ef6b6f"),
    ("events_scd2_intervals", "0e4dfcb2b82f6700f5a4de9ce369c6b9"),
    ("topk_tokens_sketch", "6583ea49573bb9d322d76fa22502e397"),
    ("kg_ntriples_export", "07aef92f7800bf830ac39c789271c6bb"),
    ("kg_twohop_paths", "10ff3d2e6a8fdce3af81a201f23b2d96"),
    ("doc_bfs_distances", "963c54908971df3fbf2c9af7c28a58f1"),
    ("hll_distinct_sketch", "7b542a28f240039a6e207f41e715ccf6"),
    ("blocking_key_stats", "be2bde750e0f6aef26362c2a2f79d89d"),
    ("sample_weighted", "11450ddb292da3a3e4763fca5964082a"),
    ("events_value_deciles", "510fb55d25202aba3b2b7f1fe879ecd2"),
    ("dedup_containment_pairs", "4a49f4fbaf739e3503af0d4364dbf3ac"),
    ("cluster_agreement_metrics", "d5620b7c20ab69d769789306620e3ee2"),
    ("chunk_strip_docs", "612fdae01b51faab6224defc881d6f56"),
    ("token_entropy_by_source", "b1462ab99f9f0e3a485bc83d6a85da29"),
    ("source_overlap_matrix", "4bf3e7835b6efd0b0dbecf634a874bcf"),
    ("pmi_bigrams_topk", "ebe07114137a49e451777241edded816"),
    ("events_trend_slopes", "10e4beaf219eb3330be3b28703d200d1"),
    ("embedding_dim_correlations", "018ee19d6306fc20bd712c18563d5f5a"),
    ("kg_incremental_merge", "ebf8508606e92e03970affe0473b4f58"),
    ("kg_triple_provenance", "933485b1ba9150b749840194b383cc2f"),
    ("kg_snapshot_diff", "e93cf426078c0c3afe379a9bb1549edf"),
    ("kwic_concordance", "5deba5a0774a93f97fe4087b0c863425"),
    ("zipf_fit_by_source", "ab897c1c4c9ea5c09ff0ea0d3b706f12"),
    ("er_snm_pairs", "fce94dbedc58b5a68af82b6c12ce437c"),
    ("link_negative_samples", "b66dfa9d9b2c39a26e821d7acabeb99a"),
    ("hist_quantile_sketch", "023a671c005eb3830a32f7bd58ff8a3e"),
    ("chunk_windows_rag", "2451afa814f12f5c898a848c7887ddb2"),
    ("events_anomaly_days", "32970c38dc452d40903342c41a4ed910"),
    ("stats_drift_dumps", "4d51ed1036a11decd8d89af8961abf3d"),
    ("sessions_overlap_pairs", "4f58f5922a33276c43a1731fe453b0e0"),
    ("exact_rank_selection", "f7c3f0a400a32b047ec0091a2e850152"),
    ("events_funnel_ordered", "3ad7afc342d3ca0dbfd00654ce8306a9"),
    ("kg_extract_text", "dfa22dbe9cfe2798b76095c8cd79091f"),
    ("kg_triples", "5a65c6f1a0eca385a9ecae680a1ff7ee"),
]


def test_registry_order_is_pinned():
    assert list(entry_queries.QUERIES) == [name for name, _ in PINNED]


def test_registry_fn_and_sql_are_pinned():
    for name, sql_md5 in PINNED:
        fn, sql = entry_queries.QUERIES[name]
        assert fn is getattr(entry_queries, name), name
        assert hashlib.md5(sql.encode()).hexdigest() == sql_md5, name
