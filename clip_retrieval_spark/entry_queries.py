"""Driver-contract query library: Spark implementations + DuckDB oracle SQL.

Each entry exercises one operator family from SURVEY.md §2 over the
driver's parquet tables. Design rules for cross-engine determinism:

* hash-based ops use md5 (bit-identical in Spark and DuckDB);
* doubles are rounded and counts cast to bigint on BOTH sides;
* timestamps leave as formatted strings;
* every top-k has a total order (tie-broken by a key column);
* column names are aliased identically on both sides.

``QUERIES`` maps name -> (spark_fn, oracle_sql | None). oracle None =>
rows-only check (non-SQL-expressible ops: the KG pipeline stages).
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clip_retrieval_spark.functions.vectors import dot


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _t_spread(
    spark: SparkSession, sf_dir: str, name: str, key: str
) -> DataFrame:
    """``_t`` + a deterministic hash repartition WHEN the file's
    row-group layout caps scan parallelism below the session's cores
    (guide §2.5: one huge unsplittable input -> repartition right after
    the read). Parquet can't split inside a row group, so a
    single-row-group file pins every downstream narrow stage — the
    CPU-dense tokenize/fold/decode work — to ONE core no matter how
    many byte-range splits the scan planner makes.

    Scale-adaptive, not local-tuned: the decision reads the actual
    footer (driver-side, ~ms — same metadata-only class as
    io.TableStore.fast_count) and is a no-op whenever row groups
    already cover the cores, which is every properly-laid-out large
    input; the partition count derives from defaultParallelism, never
    a constant. The key is a stated unique id so the placement is
    deterministic under retries (guide §2.5 warns off round-robin)."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(f"{sf_dir}/{name}.parquet").metadata
        row_groups, rows = md.num_row_groups, md.num_rows
    except Exception:
        return df
    cores = spark.sparkContext.defaultParallelism
    target = min(cores, max(1, rows // 512))
    if row_groups >= target:
        return df
    return df.repartition(target, F.col(key))


# ---------------------------------------------------------------------------
# relational core (scan / filter / project / agg / join / window / sort)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape: scan+filter+groupBy agg (SURVEY.md §2.4 A1/A2)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)            AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)       AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 2)            AS avg_qty,
       ROUND(AVG(l_discount), 4)            AS avg_disc,
       COUNT(*)::BIGINT                     AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_top_revenue_orders(spark: SparkSession, sf: str) -> DataFrame:
    """3-way join + agg + deterministic top-10 (J2/O1)."""
    cust = _t(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf, "orders")
    # spread keyed by l_orderkey: the row-group-bound 6-way scan was
    # the join/agg parallelism ceiling, and the groupBy(l_orderkey)
    # reuses this exact partitioning (no second lineitem exchange)
    li = _t_spread(spark, sf, "lineitem", "l_orderkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q5_nation_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """5-way join through dims; broadcast small sides (J2, §4 pushdown)."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    sup = _t(spark, sf, "supplier")
    nat = _t(spark, sf, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(
            F.broadcast(nat),
            (cust.c_nationkey == nat.n_nationkey)
            & (sup.s_nationkey == nat.n_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


Q5_SQL = """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*)::BIGINT AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN supplier ON l_suppkey  = s_suppkey
JOIN nation   ON c_nationkey = n_nationkey AND s_nationkey = n_nationkey
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


def filter_project_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Predicate + projection pushdown (P1, §4)."""
    return (
        _t(spark, sf, "part")
        .filter((F.col("p_size") >= 40) & F.col("p_type").contains("BRASS"))
        .select(
            "p_partkey",
            "p_brand",
            F.round(F.col("p_retailprice") * 1.1, 2).alias("marked_up"),
        )
        .orderBy("p_partkey")
    )


FILTER_PROJECT_SQL = """
SELECT p_partkey, p_brand, ROUND(p_retailprice * 1.1, 2) AS marked_up
FROM part
WHERE p_size >= 40 AND p_type LIKE '%BRASS%'
ORDER BY p_partkey
"""


def sort_topn_lineitems(spark: SparkSession, sf: str) -> DataFrame:
    """Global sort + limit — Spark external sort (O4 collapses to this)."""
    return (
        _t(spark, sf, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(
            F.desc("l_extendedprice"), F.asc("l_orderkey"),
            F.asc("l_linenumber"),
        )
        .limit(100)
    )


SORT_TOPN_SQL = """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
LIMIT 100
"""


def window_top3_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Per-key top-k via window row_number with pinned ties (O1/O5)."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        _t(spark, sf, "orders")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
        .orderBy("o_custkey", "rnk")
    )


WINDOW_TOP3_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rnk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC)
           ::INT AS rnk
  FROM orders
) WHERE rnk <= 3
ORDER BY o_custkey, rnk
"""


def semi_join_customers(spark: SparkSession, sf: str) -> DataFrame:
    """left_semi — the reference's key-set intersection (J1)."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


SEMI_JOIN_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def anti_join_customers(spark: SparkSession, sf: str) -> DataFrame:
    """left_anti — set difference on keys (U1)."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_acctbal")
        .orderBy("c_custkey")
    )


ANTI_JOIN_SQL = """
SELECT c_custkey, c_acctbal FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def distinct_agg_orders(spark: SparkSession, sf: str) -> DataFrame:
    """count(distinct) + multiple aggregates (§2.4)."""
    return (
        _t(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_custs"),
            F.count("*").alias("n_orders"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("o_orderpriority")
    )


DISTINCT_AGG_SQL = """
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey)::BIGINT AS n_custs,
       COUNT(*)::BIGINT                  AS n_orders,
       ROUND(MAX(o_totalprice), 2)       AS max_price
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def set_ops_segments(spark: SparkSession, sf: str) -> DataFrame:
    """union / except_all analogs (U1/U2)."""
    cust = _t(spark, sf, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = cust.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return a.union(b).distinct().exceptAll(
        cust.filter(F.col("c_nationkey") == 0).select("c_custkey")
    ).orderBy("c_custkey")


SET_OPS_SQL = """
(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
 UNION
 SELECT c_custkey FROM customer WHERE c_acctbal < 0)
EXCEPT ALL
SELECT c_custkey FROM customer WHERE c_nationkey = 0
ORDER BY c_custkey
"""


def string_functions_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar string function surface (§2.8: lpad / regexp / null-fill)."""
    return (
        _t(spark, sf, "part")
        .filter(F.col("p_partkey") <= 500)
        .select(
            "p_partkey",
            F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded"),
            F.regexp_replace(F.lower("p_name"), r"\s+", "_").alias("slug"),
            F.substring("p_brand", 1, 5).alias("brand5"),
            F.coalesce(F.col("p_type"), F.lit("")).alias("ptype"),
        )
        .orderBy("p_partkey")
    )


STRING_FUNCS_SQL = """
SELECT p_partkey,
       LPAD(p_partkey::VARCHAR, 8, '0')            AS padded,
       REGEXP_REPLACE(LOWER(p_name), '\\s+', '_', 'g') AS slug,
       SUBSTRING(p_brand, 1, 5)                    AS brand5,
       COALESCE(p_type, '')                        AS ptype
FROM part WHERE p_partkey <= 500 ORDER BY p_partkey
"""


# ---------------------------------------------------------------------------
# events: JSON, time windows, sessionization, latest-per-key
# ---------------------------------------------------------------------------

def events_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """JSON parse/flatten (§2.8: from_json / get_json_object)."""
    return (
        _t(spark, sf, "events")
        .withColumn(
            "k", F.get_json_object("props", "$.k").cast("int")
        )
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 3).alias("avg_k"),
            F.count("*").alias("n"),
        )
        .orderBy("event_type")
    )


EVENTS_JSON_SQL = """
SELECT event_type,
       ROUND(AVG(json_extract_string(props, '$.k')::INT), 3) AS avg_k,
       COUNT(*)::BIGINT AS n
FROM events GROUP BY event_type ORDER BY event_type
"""


def events_hourly_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling time window aggregation (Structured-Streaming-shaped,
    run in batch; §2.9)."""
    return (
        _t(spark, sf, "events")
        .groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type", "n", "sum_value",
        )
        .orderBy("hour", "event_type")
    )


EVENTS_HOURLY_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, COUNT(*)::BIGINT AS n, ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY hour, event_type
"""


def events_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization via lag + cumulative sum windows."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    ev = (
        _t(spark, sf, "events")
        .withColumn(
            "new_sess",
            F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
        )
        .withColumn("sess_id", F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ))
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.max("sess_id").cast("long").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


EVENTS_SESSIONIZE_SQL = """
WITH g AS (
  SELECT user_id,
         CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              OR LAG(ts) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
)
SELECT user_id, SUM(new_sess)::BIGINT AS n_sessions,
       COUNT(*)::BIGINT AS n_events
FROM g GROUP BY user_id ORDER BY user_id
"""


def events_latest_per_user(spark: SparkSession, sf: str) -> DataFrame:
    """Order-preserving dedup: keep latest row per key (O5)."""
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        _t(spark, sf, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            "event_type",
        )
        .orderBy("user_id")
    )


EVENTS_LATEST_SQL = """
SELECT user_id, event_id AS last_event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts, event_type
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# dedup suite over documents (SURVEY.md §2.7 generalized to text corpora)
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup: content-hash groupBy, keep min doc_id (G1)."""
    return (
        _t(spark, sf, "documents")
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keeper"),
            F.count("*").alias("n_copies"),
        )
        .orderBy("keeper")
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper,
       COUNT(*)::BIGINT AS n_copies
FROM documents GROUP BY 1 ORDER BY keeper
"""


def _toks(col: str | F.Column = "text") -> F.Column:
    """Non-empty space-split tokens of one document, in order, as a
    NARROW array expression (split -> filter, no shuffle)."""
    return F.filter(F.split(col, " "), lambda x: x != "")


def _tok_arr() -> F.Column:
    """Distinct non-empty tokens of one document's ``text`` (``_toks``
    -> array_distinct)."""
    return F.array_distinct(_toks("text"))


def _bigram_arr() -> F.Column:
    """array<struct<w1, w2>> of the adjacent token pairs of the token
    array column ``t`` — an in-row slice zip (callers keep size >= 2)."""
    return F.zip_with(
        F.slice("t", F.lit(1), F.size("t") - 1),
        F.slice("t", F.lit(2), F.size("t") - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )


def _doc_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, tok) distinct — shared by the dedup/text family.

    doc_id is the documents PK (driver-generated, verified unique at
    every sf), so per-row array_distinct == the global DISTINCT the
    oracle states — computed narrowly. The previous implementation
    shuffled EVERY token for a distinct exchange; this one shuffles
    nothing (guide §2.4: remove shuffles outright)."""
    return _t_spread(spark, sf, "documents", "doc_id").select(
        "doc_id", F.explode(_tok_arr()).alias("tok")
    )


def _doc_tokens_src(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, source, tok) distinct-per-doc — `_doc_tokens` with the
    source carried from the same row (doc_id is the PK, so the old
    `_doc_tokens JOIN documents` re-shuffle of every token computed
    exactly this)."""
    return _t_spread(spark, sf, "documents", "doc_id").select(
        "doc_id", "source", F.explode(_tok_arr()).alias("tok")
    )


def _tok_stream(docs: DataFrame, *keys: str) -> DataFrame:
    """(*keys, tok): every non-empty token occurrence of ``docs.text``,
    duplicates kept."""
    return docs.select(
        *keys, F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")


_DOC_TOKENS_SQL = """
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''
"""

_MINHASH_K = 8
_BAND_R = 4  # 2 bands x 4 rows
_MINHASH_BUCKET_CAP = 64


def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs (G2/J6): token shingles ->
    8 md5-minhashes -> 2 bands of 4 -> bucket equi-join (bucket size
    capped at 64 on BOTH engines) -> distinct pairs.
    md5 hex strings are bit-identical across engines, and lexicographic
    MIN over uniformly-distributed hex IS a valid minhash.

    The bucket cap is the classic LSH hot-bucket bound: a bucket of m
    members emits m^2/2 pairs, and on this high-mutual-Jaccard corpus
    the uncapped join emitted 6.6M band pairs at sf0.1 (270x the capped
    count) — all from a handful of degenerate buckets that say "these
    docs share boilerplate", not "near-duplicates". Over-cap buckets are
    dropped as non-selective; the oracle applies the identical cap via a
    window count, so the comparison stays exact.

    r6 shape (guide §2.4): minhashes and band signatures are NARROW
    per-row expressions over the distinct-token array (doc_id is the
    PK, so array_distinct == the oracle's DISTINCT; lexicographic
    array_min over the i-salted md5s == the grouped MIN) — the previous
    token-distinct exchange and groupBy(doc_id) exchange are gone. The
    bucket cap is a window count over the ONE (band, sig) exchange,
    which the self-join then reuses (no second shuffle of bands)."""
    docs = _t_spread(spark, sf, "documents", "doc_id")

    def _mh(i: int) -> F.Column:
        # NB: the salt must be captured in a closure — a `lambda t, i=i`
        # two-parameter signature would make transform() pass the array
        # INDEX as the second argument
        return F.array_min(
            F.transform(
                "_t", lambda t: F.md5(F.concat(F.lit(f"{i}:"), t))
            )
        ).alias(f"mh{i}")

    mh = docs.select("doc_id", _tok_arr().alias("_t")).select(
        "doc_id", *[_mh(i) for i in range(_MINHASH_K)]
    )
    # 2 bands x 4 rows: deep bands keep candidate pairs sparse on
    # high-mutual-Jaccard corpora (r=2 banding emitted ~40% of ALL
    # pairs on the synthetic docs — LSH in name only)
    bands = mh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat(
                                *[
                                    f"mh{_BAND_R * b + r}"
                                    for r in range(_BAND_R)
                                ]
                            )
                        ).alias("sig"),
                    )
                    for b in range(_MINHASH_K // _BAND_R)
                ]
            )
        ).alias("_bs"),
    ).select("doc_id", F.col("_bs.band").alias("band"),
             F.col("_bs.sig").alias("sig"))
    wc = Window.partitionBy("band", "sig")
    bounded = (
        bands.withColumn("_n", F.count("*").over(wc))
        .filter(F.col("_n") <= _MINHASH_BUCKET_CAP)
        .drop("_n")
    )
    left = bounded.select("band", "sig", F.col("doc_id").alias("a"))
    right = bounded.select("band", "sig", F.col("doc_id").alias("b"))
    return (
        left.join(right, ["band", "sig"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .orderBy("a", "b")
    )


DEDUP_MINHASH_SQL = f"""
WITH toks AS ({_DOC_TOKENS_SQL}),
mh AS (
  SELECT doc_id,
         {', '.join(f"MIN(md5('{i}:' || tok)) AS mh{i}" for i in range(_MINHASH_K))}
  FROM toks GROUP BY doc_id
),
bands AS (
  {' UNION ALL '.join(
      f"SELECT doc_id, {b} AS band, "
      f"md5({' || '.join(f'mh{_BAND_R*b+r}' for r in range(_BAND_R))}) "
      f"AS sig FROM mh"
      for b in range(_MINHASH_K // _BAND_R)
  )}
),
bounded AS (
  SELECT doc_id, band, sig FROM (
    SELECT doc_id, band, sig,
           COUNT(*) OVER (PARTITION BY band, sig) AS _n
    FROM bands
  ) WHERE _n <= {_MINHASH_BUCKET_CAP}
)
SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
FROM bounded l JOIN bounded r ON l.band = r.band AND l.sig = r.sig
WHERE l.doc_id < r.doc_id
ORDER BY a, b
"""


def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """32-bit SimHash fingerprints: per-token md5 -> 32 bits -> signed
    per-bit majority vote -> fingerprint (dedup = equal fingerprints).

    r6 shape: the signed vote s_b = sum(+1 if bit set else -1) equals
    2*c_b - n for c_b = count of set bits, so ONE codegen aggregation
    per doc (count + 32 bit-sums, map-side combinable) replaces the
    previous 32x bit-explode plus two chained aggregations — identical
    integer arithmetic, 1 exchange instead of 2 over 32x fewer rows."""
    toks = _doc_tokens(spark, sf).withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    )
    sums = toks.groupBy("doc_id").agg(
        F.count("*").alias("_n"),
        *[
            F.sum(F.shiftright("h", b).bitwiseAND(F.lit(1))).alias(
                f"_c{b}"
            )
            for b in range(32)
        ],
    )
    simhash = None
    for b in range(32):
        term = F.when(
            2 * F.col(f"_c{b}") - F.col("_n") > 0,
            F.lit(1 << b).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        simhash = term if simhash is None else simhash + term
    return sums.select("doc_id", simhash.alias("simhash")).orderBy(
        "doc_id"
    )


DEDUP_SIMHASH_SQL = """
WITH toks AS ({toks}),
h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks
),
bits AS (
  SELECT doc_id, b.bit,
         CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END AS v
  FROM h CROSS JOIN (SELECT unnest(range(32)) AS bit) b
),
votes AS (SELECT doc_id, bit, SUM(v) AS s FROM bits GROUP BY doc_id, bit)
SELECT doc_id,
       SUM(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT
         AS simhash
FROM votes GROUP BY doc_id ORDER BY doc_id
""".format(toks=_DOC_TOKENS_SQL)


_JACCARD_DF_CAP = 256


def _capped_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """(b, a, c, sza, szb): every same-source doc pair a < b with c > 0
    shared tokens, where sza/szb are the two token-set sizes — the
    token-set overlap both similarity joins score (J6 exact path).

    The df cap is the scale bound: a token appearing in d docs of one
    source is a hub join key contributing O(d^2) candidate rows, so
    tokens with per-source df > _JACCARD_DF_CAP are excluded as
    non-discriminative (standard similarity-join prefiltering). Sizes
    are computed AFTER the cap and the oracles apply the identical cap,
    so the engines agree exactly at every scale while worst-case
    per-token fanout is a constant.

    r6 shape: source rides the narrow tokenization directly (doc_id is
    the documents PK — the previous _doc_tokens JOIN documents shuffled
    every token twice), and the df cap is a window count over ONE
    (source, tok) exchange — the same shape as the oracle SQL — which
    the intersection self-join then reuses."""
    all_toks = _doc_tokens_src(spark, sf)
    wdf = Window.partitionBy("source", "tok")
    toks = (
        all_toks.withColumn("_df", F.count("*").over(wdf))
        .filter(F.col("_df") <= _JACCARD_DF_CAP)
        .drop("_df")
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = toks.select(
        F.col("source"), F.col("doc_id").alias("a"), F.col("tok")
    )
    b = toks.select(
        F.col("source"), F.col("doc_id").alias("b"), F.col("tok")
    )
    inter = (
        a.join(b, ["source", "tok"])
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("szb"))
    return inter.join(sa, "a").join(sb, "b")


def dedup_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """n-gram (token-set) Jaccard similarity join, blocked by ``source``
    AND by a token-document-frequency cap (``_capped_overlap``)."""
    return (
        _capped_overlap(spark, sf)
        .withColumn(
            "jaccard",
            F.round(
                F.col("c") / (F.col("sza") + F.col("szb") - F.col("c")), 4
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("a", "b", "jaccard")
        .orderBy("a", "b")
    )


def _near_dup_edges(spark: SparkSession, sf: str) -> DataFrame:
    """(src, dst) edges of the near-dup similarity graph: the
    dedup_jaccard_pairs pairs at Jaccard >= 0.8, src < dst."""
    return (
        dedup_jaccard_pairs(spark, sf)
        .filter(F.col("jaccard") >= 0.8)
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )


DEDUP_JACCARD_SQL = """
WITH all_toks AS (
  SELECT t.doc_id, t.tok, d.source
  FROM ({toks}) t JOIN documents d USING (doc_id)
),
toks AS (
  SELECT doc_id, tok, source FROM (
    SELECT doc_id, tok, source,
           COUNT(*) OVER (PARTITION BY source, tok) AS _df
    FROM all_toks
  ) WHERE _df <= __DF_CAP__
),
sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS sz FROM toks GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*)::BIGINT AS c
  FROM toks a JOIN toks b ON a.source = b.source AND a.tok = b.tok
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a, b, ROUND(c / (sa.sz + sb.sz - c), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
WHERE ROUND(c / (sa.sz + sb.sz - c), 4) >= 0.5
ORDER BY a, b
""".format(toks=_DOC_TOKENS_SQL).replace("__DF_CAP__", str(_JACCARD_DF_CAP))


# ---------------------------------------------------------------------------
# text analysis over documents
# ---------------------------------------------------------------------------

_STOPWORDS = {
    "en": ["the", "of", "and", "a", "in", "is", "to", "was"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est"],
    "de": ["der", "die", "das", "und", "ein", "ist", "von", "zu"],
    "es": ["el", "los", "las", "y", "en", "una", "es", "por"],
}


def lang_id_stopwords(spark: SparkSession, sf: str) -> DataFrame:
    """n-gram-heuristic language ID: stopword hit counts per language,
    argmax with pinned tie order (score DESC, lang ASC); 'und' when no
    stopword hits."""
    docs = _t(spark, sf, "documents").select(
        "doc_id", "text"
    )
    toks = _tok_stream(docs, "doc_id")
    sw = spark.createDataFrame(
        [(lang, w) for lang, ws in _STOPWORDS.items() for w in ws],
        "lang string, tok string",
    )
    hits = (
        toks.join(F.broadcast(sw), "tok")
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("lang"))
    best = (
        hits.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("doc_id", F.col("lang").alias("pred_lang"), "hits")
    )
    return (
        docs.select("doc_id")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("pred_lang", F.lit("und")).alias("pred_lang"),
            F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
        )
        .orderBy("doc_id")
    )


_SW_VALUES = ", ".join(
    f"('{lang}', '{w}')" for lang, ws in _STOPWORDS.items() for w in ws
)

LANG_ID_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
sw(lang, tok) AS (VALUES {_SW_VALUES}),
hits AS (
  SELECT doc_id, lang, COUNT(*)::BIGINT AS hits
  FROM toks JOIN sw USING (tok) WHERE tok <> ''
  GROUP BY doc_id, lang
),
best AS (
  SELECT doc_id, lang AS pred_lang, hits,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY hits DESC, lang ASC) AS rn
  FROM hits
)
SELECT d.doc_id,
       COALESCE(b.pred_lang, 'und') AS pred_lang,
       COALESCE(b.hits, 0)::BIGINT  AS hits
FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
  ON d.doc_id = b.doc_id
ORDER BY d.doc_id
"""


def quality_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Quality scoring: token count, mean token length, stopword ratio,
    composite score — pure JVM-side arithmetic."""
    en = _STOPWORDS["en"]
    docs = _t_spread(spark, sf, "documents", "doc_id")
    toks = _toks()
    sw_arr = F.array(*[F.lit(w) for w in en])
    n_tok = F.size(toks)
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t)))
    mean_len = (
        F.aggregate(
            toks, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
        )
        / n_tok
    )
    return docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.round(mean_len, 4).alias("mean_tok_len"),
        F.round(n_sw / n_tok, 4).alias("stopword_ratio"),
        F.round(
            F.least(n_tok / F.lit(100.0), F.lit(1.0)) * 0.5
            + (1 - n_sw / n_tok) * 0.5,
            4,
        ).alias("quality"),
    ).orderBy("doc_id")


_EN_LIST = "[" + ", ".join(f"'{w}'" for w in _STOPWORDS["en"]) + "]"

QUALITY_SQL = """
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
         list_sum(list_transform(
             list_filter(string_split(text, ' '), x -> x <> ''),
             x -> len(x)))::DOUBLE AS tot_len,
         len(list_filter(string_split(text, ' '),
             x -> list_contains(__EN__, x))) AS n_sw
  FROM documents
)
SELECT doc_id, n_tokens::BIGINT AS n_tokens,
       ROUND(tot_len / n_tokens, 4) AS mean_tok_len,
       ROUND(n_sw / n_tokens::DOUBLE, 4) AS stopword_ratio,
       ROUND(LEAST(n_tokens / 100.0, 1.0) * 0.5
             + (1 - n_sw / n_tokens::DOUBLE) * 0.5, 4) AS quality
FROM t ORDER BY doc_id
""".replace("__EN__", _EN_LIST)


def token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level token statistics (one-row aggregate)."""
    toks = _tok_stream(_t_spread(spark, sf, "documents", "doc_id"))
    return toks.agg(
        F.count("*").alias("total_tokens"),
        F.countDistinct("tok").alias("distinct_tokens"),
        F.round(F.avg(F.length("tok")), 4).alias("avg_len"),
    )


TOKEN_STATS_SQL = """
SELECT COUNT(*)::BIGINT AS total_tokens,
       COUNT(DISTINCT tok)::BIGINT AS distinct_tokens,
       ROUND(AVG(len(tok)), 4) AS avg_len
FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
WHERE tok <> ''
"""


# letter runs | digit runs | single non-space symbol — the GPT-2-style
# pre-tokenizer split minus lookaheads (RE2/DuckDB-compatible, so the
# oracle runs the IDENTICAL pattern)
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document token counting under a BPE-ish regex tokenizer
    (training-data budget accounting): subword-ish token count vs
    whitespace word count, with alpha/numeric/symbol splits. Pure JVM
    (regexp_extract_all + higher-order filter) — no Python."""
    d = _t_spread(spark, sf, "documents", "doc_id")
    toks = d.select(
        "doc_id",
        F.regexp_extract_all("text", F.lit(_BPE_RE), 0).alias("bt"),
        F.split("text", r"\s+").alias("wt"),
    )
    n_alpha = F.size(F.filter("bt", lambda t: t.rlike("^[A-Za-z]")))
    n_num = F.size(F.filter("bt", lambda t: t.rlike("^[0-9]")))
    return toks.select(
        "doc_id",
        F.size("bt").cast("long").alias("n_bpe_tokens"),
        F.size(F.filter("wt", lambda x: x != "")).cast("long").alias(
            "n_words"
        ),
        n_alpha.cast("long").alias("n_alpha"),
        n_num.cast("long").alias("n_num"),
        (F.size("bt") - n_alpha - n_num).cast("long").alias("n_symbol"),
    ).orderBy("doc_id")


BPE_TOKEN_SQL = f"""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(text, '{_BPE_RE}') AS bt,
         list_filter(regexp_split_to_array(text, '\\s+'),
                     x -> x <> '') AS wt
  FROM documents
)
SELECT doc_id,
       len(bt)::BIGINT AS n_bpe_tokens,
       len(wt)::BIGINT AS n_words,
       len(list_filter(bt, x -> regexp_matches(x, '^[A-Za-z]')))::BIGINT
         AS n_alpha,
       len(list_filter(bt, x -> regexp_matches(x, '^[0-9]')))::BIGINT
         AS n_num,
       (len(bt)
        - len(list_filter(bt, x -> regexp_matches(x, '^[A-Za-z]')))
        - len(list_filter(bt, x -> regexp_matches(x, '^[0-9]'))))::BIGINT
         AS n_symbol
FROM t ORDER BY doc_id
"""


def doc_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Document fingerprint: md5 over the sorted distinct token set
    (order-canonical bag fingerprint)."""
    return (
        _doc_tokens(spark, sf)
        .groupBy("doc_id")
        .agg(
            F.md5(
                F.array_join(F.array_sort(F.collect_set("tok")), " ")
            ).alias("fingerprint")
        )
        .orderBy("doc_id")
    )


DOC_FINGERPRINT_SQL = f"""
SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY tok)) AS fingerprint
FROM ({_DOC_TOKENS_SQL})
GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

def ann_topk_bruteforce(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors (O1/J7 baseline).
    Vectors are unit-norm so dot == cosine; accumulated in double,
    left-to-right, which DuckDB's list_dot_product(::DOUBLE[]) matches
    bit-for-bit (verified empirically)."""
    q = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    )
    c = _t_spread(spark, sf, "embeddings", "vec_id").select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("qid") != F.col("cid"))
        .withColumn(
            "score",
            F.round(dot("q_emb", "c_emb"), 6),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter("rnk <= 5")
        .select("qid", "cid", "score", "rnk")
        .orderBy("qid", "rnk")
    )


ANN_TOPK_SQL = """
WITH q AS (SELECT vec_id AS qid, embedding AS q_emb FROM embeddings
           WHERE vec_id < 10),
scored AS (
  SELECT q.qid, c.vec_id AS cid,
         ROUND(list_dot_product(q.q_emb::DOUBLE[], c.embedding::DOUBLE[]), 6)
           AS score
  FROM q CROSS JOIN embeddings c
  WHERE q.qid <> c.vec_id
),
ranked AS (
  SELECT qid, cid, score,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY score DESC, cid ASC)::INT AS rnk
  FROM scored
)
SELECT qid, cid, score, rnk FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk
"""


def embedding_neardup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (G2): all pairs with cosine >=
    0.35, EXACT, as a distributed block-pair matmul join
    (operators.similarity.block_allpairs_cosine) — no driver collect,
    no closure matrix, task memory bounded by 2n/B vectors. See the
    operator docstring for why LSH blocking is the wrong tool at this
    threshold (range_search analog, reference clip_back.py:290-301)."""
    from clip_retrieval_spark.operators.similarity import (
        block_allpairs_cosine,
    )

    emb = _t_spread(spark, sf, "embeddings", "vec_id").select(
        "vec_id", "embedding"
    )
    # fixed B=8 here is the sf-scale default (keeps the gate plan
    # deterministic, no extra count job); production callers omit
    # n_blocks and get the auto-sized B (auto_n_blocks) that holds task
    # memory constant at any corpus size.
    return block_allpairs_cosine(emb, 0.35, n_blocks=8).orderBy("a", "b")


EMB_NEARDUP_SQL = """
SELECT a.vec_id AS a, b.vec_id AS b,
       ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),
             6) AS score
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),
            6) >= 0.35
ORDER BY a, b
"""


def label_centroid_norms(spark: SparkSession, sf: str) -> DataFrame:
    """Element-wise centroid per label (posexplode + two-level agg),
    reported as the centroid L2 norm."""
    emb = _t(spark, sf, "embeddings")
    dims = emb.select(
        "label", F.posexplode("embedding").alias("i", "x")
    )
    cent = dims.groupBy("label", "i").agg(
        F.avg(F.col("x").cast("double")).alias("m")
    )
    return (
        cent.groupBy("label")
        .agg(
            F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 6).alias(
                "centroid_norm"
            ),
        )
        .join(
            emb.groupBy("label").agg(F.count("*").alias("n")), "label"
        )
        .select("label", "n", "centroid_norm")
        .orderBy("label")
    )


LABEL_CENTROID_SQL = """
WITH dims AS (
  SELECT label, i.i AS i, embedding[i.i]::DOUBLE AS x
  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i
),
cent AS (SELECT label, i, AVG(x) AS m FROM dims GROUP BY label, i),
norms AS (
  SELECT label, ROUND(SQRT(SUM(m * m)), 6) AS centroid_norm
  FROM cent GROUP BY label
)
SELECT n1.label, n2.n, n1.centroid_norm
FROM norms n1
JOIN (SELECT label, COUNT(*)::BIGINT AS n FROM embeddings GROUP BY label) n2
  ON n1.label = n2.label
ORDER BY n1.label
"""


def base64_roundtrip_docs(spark: SparkSession, sf: str) -> DataFrame:
    """base64/unbase64 surface (§2.8) — the reference moves embeddings
    over HTTP as base64 (reference clip_back.py:84-87,234-236 and
    clip_client.py:128-130: encode at the server, decode at the client).
    Spark's ``base64`` emits the MIME-wrapped form (76-char lines); the
    canonical unchunked encoding strips CR/LF, which DuckDB's
    ``to_base64`` emits natively — verified bit-identical after the
    strip. The roundtrip column proves decode(unbase64(.)) is inverse."""
    d = _t(spark, sf, "documents")
    b64 = F.regexp_replace(
        F.base64(F.encode("text", "utf-8")), "[\\r\\n]", ""
    )
    return d.select(
        "doc_id",
        F.substring(b64, 1, 32).alias("b64_prefix"),
        F.md5(b64).alias("b64_digest"),
        (F.decode(F.unbase64(b64), "utf-8") == F.col("text")).alias(
            "roundtrip_ok"
        ),
    ).orderBy("doc_id")


BASE64_SQL = """
WITH b AS (SELECT doc_id, text, to_base64(encode(text)) AS b64
           FROM documents)
SELECT doc_id,
       substring(b64, 1, 32)                  AS b64_prefix,
       md5(b64)                               AS b64_digest,
       decode(from_base64(b64)) = text        AS roundtrip_ok
FROM b ORDER BY doc_id
"""


def aesthetic_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """Aesthetic-blend re-rank (reference clip_back.py:250-253:
    query = normalize(query + weight * aesthetic_embedding), then knn):
    blend each query vector with a fixed 'aesthetic' vector (vec_id 0)
    via functions.vectors.blend and rank the corpus by the blended
    cosine. The oracle computes the same score through the algebraic
    identity dot(unit(q+w*a), c) = (dot(q,c)+w*dot(a,c)) / ||q+w*a||
    using list_dot_product only — verified to agree at round-6."""
    from clip_retrieval_spark.functions.vectors import blend

    emb = _t(spark, sf, "embeddings")
    aest = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("a_emb")
    )
    q = (
        emb.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= 5))
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb"))
        .crossJoin(F.broadcast(aest))
        .withColumn("bq", blend("q_emb", "a_emb", 0.5))
        .select("qid", "bq")
    )
    c = emb.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cid") != F.col("qid"))
        .withColumn("score", F.round(dot("bq", "c_emb"), 6))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter("rnk <= 3")
        .select("qid", "cid", "score", "rnk")
        .orderBy("qid", "rnk")
    )


AESTHETIC_RERANK_SQL = """
WITH aest AS (SELECT embedding AS a FROM embeddings WHERE vec_id = 0),
q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
      WHERE vec_id BETWEEN 1 AND 5),
scored AS (
  SELECT q.qid, c.vec_id AS cid,
         ROUND((list_dot_product(q.qv::DOUBLE[], c.embedding::DOUBLE[])
                + 0.5 * list_dot_product(aest.a::DOUBLE[],
                                         c.embedding::DOUBLE[]))
               / sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])
                      + 2 * 0.5 * list_dot_product(q.qv::DOUBLE[],
                                                   aest.a::DOUBLE[])
                      + 0.5 * 0.5 * list_dot_product(aest.a::DOUBLE[],
                                                     aest.a::DOUBLE[])),
               6) AS score
  FROM q, aest, embeddings c
  WHERE c.vec_id <> q.qid
),
ranked AS (
  SELECT qid, cid, score,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY score DESC, cid ASC)::INT AS rnk
  FROM scored
)
SELECT qid, cid, score, rnk FROM ranked WHERE rnk <= 3 ORDER BY qid, rnk
"""


def safety_filter_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Safety filter (P5, reference clip_back.py:315-319) with REAL
    embedded weights — oracle-checked: score every embedding with the
    checked-in logistic-regression head (operators.safety.SAFETY_W/B,
    the h14_nsfw_model analog) and count kept vs dropped at the
    reference's 0.5 threshold. sigmoid(z) <= 0.5 <=> z <= 0, so the
    oracle computes the identical linear score via list_dot_product;
    the minimum |z| on this table is 3.4e-3 — six orders of magnitude
    above any cross-engine float noise, so the counts are exact."""
    from clip_retrieval_spark.operators.safety import score_safety

    emb = _t(spark, sf, "embeddings")
    return (
        score_safety(emb)
        .withColumn(
            "verdict",
            F.when(F.col("safety_score") <= 0.5, "kept").otherwise(
                "dropped"
            ),
        )
        .groupBy("verdict")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("verdict")
    )


def _safety_w_sql() -> str:
    from clip_retrieval_spark.operators.safety import SAFETY_B, SAFETY_W

    ws = ", ".join(repr(float(x)) for x in SAFETY_W)
    return f"""
WITH s AS (
  SELECT CASE WHEN list_dot_product(embedding::DOUBLE[],
                                    [{ws}]::DOUBLE[])
              + ({SAFETY_B!r}) <= 0
         THEN 'kept' ELSE 'dropped' END AS verdict
  FROM embeddings
)
SELECT verdict, COUNT(*)::BIGINT AS n FROM s
GROUP BY verdict ORDER BY verdict
"""


SAFETY_FILTER_SQL = _safety_w_sql()


def kg_client_topk(spark: SparkSession, sf: str) -> DataFrame:
    """The KGClient surface (api.py, mirroring clip_client.py:56-94)
    oracle-checked end-to-end: a 3-text query_batch plan — dedup ON,
    aesthetic blend ON (weight 0.5 toward the 'Entity16' direction) —
    over the closed Entity0..39 vocabulary, with an exact-duplicate
    entity row injected so the dedup branch (clip_back.py:257-268) is
    exercised IN the compared output: without dedup 'Entity7' would
    appear twice in its own top-5. Hash ids are projected out; the
    expected (qid, surface, similarity, rank) is deterministic on the
    closed vocabulary, verified independently against numpy
    (unit(q + w*a) blend identity), and pinned as SQL VALUES."""
    import pandas as pd

    from clip_retrieval_spark.api import KGClient
    from clip_retrieval_spark.operators.embed import (
        embed_batch,
        entities_df,
        mentions_df,
    )
    from clip_retrieval_spark.operators.triples import (
        extract_and_triples_df,
    )

    tr = extract_and_triples_df(docs_as_pages(spark, sf))
    e = entities_df(mentions_df(tr))
    # inject an exact duplicate (same surface+embedding, different id):
    # the reference's dedup hashes the rounded embedding and keeps one
    dup = e.filter(F.col("surface") == "Entity7").withColumn(
        "entity_id", F.col("entity_id") + F.lit(1)
    )
    texts = ["Entity1", "Entity7", "Entity23"]
    aesthetic = [float(x) for x in embed_batch(pd.Series(["Entity16"]))[0]]
    client = KGClient(
        e.unionByName(dup),
        k=5,
        min_score=0.2,
        deduplicate=True,
        aesthetic_embedding=aesthetic,
        aesthetic_weight=0.5,
    )
    vecs = embed_batch(pd.Series(texts))
    out = client.query_df(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    )
    return out.select(
        "qid",
        "surface",
        F.round(F.col("similarity").cast("double"), 6).alias("similarity"),
        "rank",
    ).orderBy("qid", "rank")


# Expected client output: engine run verified against an independent
# numpy blend+top-k computation, then pinned (closed vocabulary).
KG_CLIENT_SQL = """
WITH expected(qid, surface, similarity, rank) AS (VALUES
  (0,'Entity1',0.989302,1),
  (0,'Entity16',0.956491,2),
  (0,'Entity13',0.858112,3),
  (0,'Entity10',0.816885,4),
  (0,'Entity11',0.816885,5),
  (1,'Entity7',0.973793,1),
  (1,'Entity16',0.890556,2),
  (1,'Entity23',0.816732,3),
  (1,'Entity1',0.794866,4),
  (1,'Entity0',0.772454,5),
  (2,'Entity23',0.968346,1),
  (2,'Entity16',0.866474,2),
  (2,'Entity2',0.84452,3),
  (2,'Entity7',0.84452,4),
  (2,'Entity20',0.789976,5)
)
SELECT qid::INT AS qid, surface, similarity::DOUBLE AS similarity,
       rank::INT AS rank
FROM expected ORDER BY qid, rank
"""


# ---------------------------------------------------------------------------
# KG pipeline stages on synthesized pages (north-rule operators)
#
# Pages are synthesized DETERMINISTICALLY from the documents table with
# JVM-side string ops, so the same page set is constructible in SQL.
# Every page carries exactly one known SVO sentence + the document text,
# which makes Stage-1 extraction and Stage-2 triple output exactly
# SQL-expressible — the driver cross-checks the two north-rule
# invariants (byte-identical text, exact triples) against DuckDB.
# ---------------------------------------------------------------------------

def docs_as_pages(spark: SparkSession, sf: str) -> DataFrame:
    """documents -> pages(url, warc_ts, html, text, lang)."""
    # _t_spread: the pages feed mapInArrow extract stages whose
    # per-page Python cost dwarfs the shuffle of the raw doc rows; a
    # single-row-group file would run the whole extract on one core
    d = _t_spread(spark, sf, "documents", "doc_id")
    sent = F.concat(
        F.lit("Entity"), (F.col("doc_id") % 40).cast("string"),
        F.lit(" acquired Entity"),
        ((F.col("doc_id") * 7) % 40).cast("string"), F.lit("."),
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>b{}</style></head><body><nav>Nav Here</nav>"),
        F.lit("<!-- c --><p>"), sent, F.lit(" "), F.col("text"),
        F.lit("</p><footer>Footer</footer></body></html>"),
    )
    return d.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc-"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias(
            "warc_ts"
        ),
        F.encode(html, "utf-8").alias("html"),
        F.lit("").alias("text"),
        F.col("lang"),
    )


def kg_extract_text(spark: SparkSession, sf: str) -> DataFrame:
    """Stage 1 on synthesized pages; byte-identical text is
    SQL-reconstructible for this page shape."""
    from clip_retrieval_spark.operators.extract import extract_pages

    return (
        extract_pages(docs_as_pages(spark, sf))
        .select("url", "text")
        .orderBy("url")
    )


KG_EXTRACT_SQL = """
SELECT 'https://' || source || '.example.com/doc-' || doc_id AS url,
       'Doc ' || doc_id || chr(10) ||
       'Entity' || (doc_id % 40) || ' acquired Entity' ||
       ((doc_id * 7) % 40) || '. ' || text AS text
FROM documents
ORDER BY url
"""


def kg_triples(spark: SparkSession, sf: str) -> DataFrame:
    """Stage 2 on synthesized pages; the known SVO sentence makes the
    triple set exactly SQL-expressible. Runs the FUSED stage-1+2
    operator — semantically identical to extract_pages |>
    extract_triples_df (same pure spec functions) with one Arrow
    boundary instead of two (guide §4: the intermediate text table
    never crosses JVM<->Python)."""
    from clip_retrieval_spark.operators.triples import extract_and_triples_df

    return (
        extract_and_triples_df(docs_as_pages(spark, sf))
        .select("url", "sent_id", "subj", "pred", "obj")
        .orderBy("url", "sent_id", "subj", "obj")
    )


KG_TRIPLES_SQL = """
SELECT 'https://' || source || '.example.com/doc-' || doc_id AS url,
       1::INT AS sent_id,
       'Entity' || (doc_id % 40)       AS subj,
       'acquired'                      AS pred,
       'Entity' || ((doc_id * 7) % 40) AS obj
FROM documents
ORDER BY url, sent_id, subj, obj
"""


def kg_mentions(spark: SparkSession, sf: str) -> DataFrame:
    """Stage 3a, oracle-checked: mentions are a pure function of the
    deterministic page construction, so (url, sent_id, role, surface,
    context) is exactly SQL-expressible. mention_id is projected out of
    the compare (xxhash64 has no DuckDB twin); id stability/collision
    behavior is unit-tested instead."""
    from clip_retrieval_spark.operators.triples import (
        extract_and_triples_df,
    )
    from clip_retrieval_spark.operators.embed import mentions_df

    tr = extract_and_triples_df(docs_as_pages(spark, sf))
    return mentions_df(tr).select(
        "url", "sent_id", "role", "surface", "context"
    ).orderBy("url", "role", "surface")


KG_MENTIONS_SQL = """
WITH base AS (
  SELECT 'https://' || source || '.example.com/doc-' || doc_id AS url,
         1::INT AS sent_id,
         'Entity' || (doc_id % 40)       AS subj,
         'Entity' || ((doc_id * 7) % 40) AS obj
  FROM documents
)
SELECT url, sent_id, 's' AS role, subj AS surface, 'acquired' AS context
FROM base
UNION ALL
SELECT url, sent_id, 'o' AS role, obj AS surface, 'acquired' AS context
FROM base
ORDER BY url, role, surface
"""


def _kg_stage_tables(spark: SparkSession, sf: str):
    """(triples, mentions, entities), each eagerly materialized with
    localCheckpoint — shared by the stage-3/4 gates below.

    Why: these DataFrames each feed SEVERAL join branches (entity side,
    surface side, final mention join), and Catalyst does not
    common-subexpression the extract -> triples -> embed subtree across
    branches — without the checkpoints the kg_links physical plan
    contained 12 parquet scans and 29 MapInPandas nodes, re-running the
    whole Arrow extract pipeline per branch. On a real cluster these
    are exactly the stage boundaries jobs/run_pipeline.py persists to
    parquet between stages; the eager checkpoint is the gate-local
    stand-in (same pattern as the LPA/k-core edge-set checkpoint,
    operators/graph.py)."""
    from clip_retrieval_spark.operators.triples import (
        extract_and_triples_df,
    )
    from clip_retrieval_spark.operators.embed import entities_df, mentions_df

    tr = extract_and_triples_df(docs_as_pages(spark, sf))
    # one materialization job: mentions carry everything downstream
    # branches need, and the branches past m (distinct surfaces, the
    # 40-entity embed, top-k) are cheap — checkpointing tr/e separately
    # just serializes extra jobs for no saved work
    m = mentions_df(tr).localCheckpoint(eager=True)
    # e is tiny (one row per distinct surface) but its lineage is a
    # distinct-exchange + Python embed over ALL mentions, and the
    # stage-3/4 gates fan it into several branches (both sides of the
    # LSH self-join, each computing its band projection from e, plus
    # the surface projection): pin it once
    e = entities_df(m).localCheckpoint(eager=True)
    return tr, m, e


def kg_links(spark: SparkSession, sf: str) -> DataFrame:
    """Stage 3c, FULLY oracle-checked (closes round-2's last no_oracle
    row): per-mention top-3 entity links via the LSH-blocked broadcast
    top-k cosine scale path, with hash ids projected to surfaces — the
    kg_nodes_edges technique. The gate vocabulary is the closed set
    Entity0..39 whose embeddings are a pure function of the surface, so
    the expected (linked_surface, score, rank) per surface is a fixed
    120-row table: computed once from the deterministic featurizer,
    verified independently against an exact numpy top-3
    (tests/test_linking.py::test_closed_vocabulary_recall, which also
    shows LSH blocking has full recall on this vocabulary), and pinned
    as SQL VALUES — the way the reference pins golden batch shapes
    (tests/test_clip_inference/test_reader.py:58-61). Tie-breaks are
    deterministic: (score DESC, linked_surface ASC). The raw hash-id
    variant (mention_links) is the same operator one projection
    earlier; id stability is unit-tested."""
    from clip_retrieval_spark.operators.link import surface_link_topk

    _, m, e = _kg_stage_tables(spark, sf)
    sl = surface_link_topk(e, k=3)
    linked = e.select("entity_id", F.col("surface").alias("linked_surface"))
    return (
        m.select("url", "sent_id", "role", "surface")
        # broadcast: |sl| = k per DISTINCT surface — the closed 40-name
        # vocabulary here; without the hint the planner's unknown size
        # estimate picks a sort-merge join that shuffles every mention
        # by a 40-value key (skew by construction)
        .join(F.broadcast(sl), "surface")
        .join(F.broadcast(linked), "entity_id")
        .select(
            "url", "sent_id", "role", "surface", "linked_surface",
            F.round(F.col("score").cast("double"), 6).alias("score"),
            "rank",
        )
        .orderBy("url", "role", "surface", "rank")
    )


# Expected top-3 links per surface: engine output verified against an
# independent exact numpy computation (sequential float32-product fold,
# matching Spark's aggregate order), then pinned. If the featurizer
# changes, regenerate from the exact numpy top-3 in
# tests/test_linking.py::test_closed_vocabulary_recall.
KG_LINKS_TOPK_VALUES = """
  ('Entity0','Entity0',1.0,1),('Entity0','Entity16',0.763763,2),('Entity0','Entity2',0.714286,3),
  ('Entity1','Entity1',1.0,1),('Entity1','Entity16',0.903696,2),('Entity1','Entity13',0.848528,3),
  ('Entity10','Entity10',1.0,1),('Entity10','Entity16',0.816497,2),('Entity10','Entity1',0.790569,3),
  ('Entity11','Entity11',1.0,1),('Entity11','Entity16',0.816497,2),('Entity11','Entity1',0.790569,3),
  ('Entity12','Entity12',1.0,1),('Entity12','Entity16',0.816497,2),('Entity12','Entity1',0.790569,3),
  ('Entity13','Entity13',1.0,1),('Entity13','Entity1',0.848528,2),('Entity13','Entity16',0.821584,3),
  ('Entity14','Entity14',1.0,1),('Entity14','Entity15',0.875,2),('Entity14','Entity16',0.816497,3),
  ('Entity15','Entity15',1.0,1),('Entity15','Entity14',0.875,2),('Entity15','Entity16',0.816497,3),
  ('Entity16','Entity16',1.0,1),('Entity16','Entity1',0.903696,2),('Entity16','Entity13',0.821584,3),
  ('Entity17','Entity17',1.0,1),('Entity17','Entity16',0.816497,2),('Entity17','Entity1',0.790569,3),
  ('Entity18','Entity18',1.0,1),('Entity18','Entity16',0.816497,2),('Entity18','Entity3',0.801784,3),
  ('Entity19','Entity19',1.0,1),('Entity19','Entity16',0.816497,2),('Entity19','Entity1',0.790569,3),
  ('Entity2','Entity2',1.0,1),('Entity2','Entity20',0.801784,2),('Entity2','Entity21',0.801784,3),
  ('Entity20','Entity20',1.0,1),('Entity20','Entity22',0.875,2),('Entity20','Entity28',0.875,3),
  ('Entity21','Entity21',1.0,1),('Entity21','Entity2',0.801784,2),('Entity21','Entity20',0.75,3),
  ('Entity22','Entity22',1.0,1),('Entity22','Entity20',0.875,2),('Entity22','Entity2',0.801784,3),
  ('Entity23','Entity23',1.0,1),('Entity23','Entity2',0.801784,2),('Entity23','Entity7',0.801784,3),
  ('Entity24','Entity24',1.0,1),('Entity24','Entity2',0.801784,2),('Entity24','Entity6',0.801784,3),
  ('Entity25','Entity25',1.0,1),('Entity25','Entity2',0.801784,2),('Entity25','Entity20',0.75,3),
  ('Entity26','Entity26',1.0,1),('Entity26','Entity2',0.801784,2),('Entity26','Entity19',0.75,3),
  ('Entity27','Entity27',1.0,1),('Entity27','Entity2',0.801784,2),('Entity27','Entity20',0.75,3),
  ('Entity28','Entity28',1.0,1),('Entity28','Entity20',0.875,2),('Entity28','Entity21',0.75,3),
  ('Entity29','Entity29',1.0,1),('Entity29','Entity2',0.801784,2),('Entity29','Entity20',0.75,3),
  ('Entity3','Entity3',1.0,1),('Entity3','Entity5',0.857143,2),('Entity3','Entity18',0.801784,3),
  ('Entity30','Entity30',1.0,1),('Entity30','Entity3',0.771517,2),('Entity30','Entity5',0.771517,3),
  ('Entity31','Entity31',1.0,1),('Entity31','Entity3',0.801784,2),('Entity31','Entity5',0.801784,3),
  ('Entity32','Entity32',1.0,1),('Entity32','Entity3',0.771517,2),('Entity32','Entity5',0.771517,3),
  ('Entity33','Entity33',1.0,1),('Entity33','Entity3',0.801784,2),('Entity33','Entity5',0.801784,3),
  ('Entity34','Entity34',1.0,1),('Entity34','Entity39',0.875,2),('Entity34','Entity3',0.801784,3),
  ('Entity35','Entity35',1.0,1),('Entity35','Entity3',0.801784,2),('Entity35','Entity5',0.801784,3),
  ('Entity36','Entity36',1.0,1),('Entity36','Entity3',0.801784,2),('Entity36','Entity5',0.801784,3),
  ('Entity37','Entity37',1.0,1),('Entity37','Entity3',0.801784,2),('Entity37','Entity5',0.801784,3),
  ('Entity38','Entity38',1.0,1),('Entity38','Entity3',0.801784,2),('Entity38','Entity5',0.801784,3),
  ('Entity39','Entity39',1.0,1),('Entity39','Entity34',0.875,2),('Entity39','Entity3',0.801784,3),
  ('Entity4','Entity4',1.0,1),('Entity4','Entity16',0.763763,2),('Entity4','Entity0',0.714286,3),
  ('Entity5','Entity5',1.0,1),('Entity5','Entity3',0.857143,2),('Entity5','Entity18',0.801784,3),
  ('Entity6','Entity6',1.0,1),('Entity6','Entity18',0.801784,2),('Entity6','Entity24',0.801784,3),
  ('Entity7','Entity7',1.0,1),('Entity7','Entity23',0.801784,2),('Entity7','Entity16',0.763763,3),
  ('Entity8','Entity8',1.0,1),('Entity8','Entity33',0.801784,2),('Entity8','Entity16',0.763763,3),
  ('Entity9','Entity9',1.0,1),('Entity9','Entity16',0.763763,2),('Entity9','Entity2',0.714286,3)
"""

KG_LINKS_SQL = f"""
WITH base AS (
  SELECT 'https://' || source || '.example.com/doc-' || doc_id AS url,
         1::INT AS sent_id,
         'Entity' || (doc_id % 40)       AS subj,
         'Entity' || ((doc_id * 7) % 40) AS obj
  FROM documents
), m AS (
  SELECT url, sent_id, 's' AS role, subj AS surface FROM base
  UNION ALL
  SELECT url, sent_id, 'o' AS role, obj AS surface FROM base
), topk(surface, linked_surface, score, rank) AS (
  VALUES {KG_LINKS_TOPK_VALUES}
)
SELECT m.url, m.sent_id, m.role, m.surface, t.linked_surface,
       t.score::DOUBLE AS score, t.rank::INT AS rank
FROM m JOIN topk t USING (surface)
ORDER BY url, role, surface, rank
"""


def kg_links_rank1(spark: SparkSession, sf: str) -> DataFrame:
    """Stage 3c invariant, oracle-checked: every distinct surface's
    rank-1 link must be the IDENTICAL surface at cosine exactly 1.0 —
    the LSH blocking must surface the self-pair and scoring must put it
    first (embeddings are unit-norm and a pure function of the surface).
    A blocking or scoring regression breaks this immediately. The full
    top-k link table (hash ids, model scores) stays rows-only as
    ``kg_links``."""
    from clip_retrieval_spark.operators.link import surface_link_topk

    _, _, e = _kg_stage_tables(spark, sf)
    sl = surface_link_topk(e, k=1)
    linked = e.select(
        "entity_id", F.col("surface").alias("linked_surface")
    )
    return (
        sl.filter(F.col("rank") == 1)
        .join(linked, "entity_id")
        .select(
            "surface", "linked_surface",
            F.round(F.col("score").cast("double"), 6).alias("score"),
            "rank",
        )
        .orderBy("surface")
    )


KG_LINKS_RANK1_SQL = """
WITH surfaces AS (
  SELECT DISTINCT 'Entity' || (doc_id % 40) AS surface FROM documents
  UNION
  SELECT DISTINCT 'Entity' || ((doc_id * 7) % 40) FROM documents
)
SELECT surface, surface AS linked_surface, 1.0::DOUBLE AS score,
       1::INT AS rank
FROM surfaces ORDER BY surface
"""


def kg_nodes_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Stage 4, oracle-checked END-TO-END THROUGH SURFACES: triples ->
    rank-1 surface links -> merge-CC canonical map -> edge table, with
    canonical ids resolved to each component's lexicographic-min surface
    (deterministic + SQL-expressible, unlike hash ids).

    The merge threshold here is 0.95: the gate vocabulary is the closed
    set Entity0..Entity39 whose maximum cross-surface embedding cosine
    is 0.904 (measured, deterministic featurizer), so the expected
    canonical grouping is the identity map and the oracle is exact.
    True alias merging (threshold 0.85 on the fixtures corpus, which
    contains real alias variants) is exercised in
    tests/test_linking.py / tests/test_cc.py."""
    from clip_retrieval_spark.operators.link import surface_link_topk
    from clip_retrieval_spark.operators.materialize import (
        canonical_map,
        entity_merge_edges,
        materialize_edges,
        surface_edges,
    )

    tr, _, e = _kg_stage_tables(spark, sf)
    surface_links = surface_link_topk(e, k=1)
    nodes = canonical_map(e, entity_merge_edges(e, threshold=0.95))
    edges = materialize_edges(tr, surface_links, nodes)
    return (
        surface_edges(edges, nodes)
        .select("subj_surface", "pred", "obj_surface", "url")
        .orderBy("url", "subj_surface", "obj_surface")
    )


KG_NODES_EDGES_SQL = """
SELECT 'Entity' || (doc_id % 40)       AS subj_surface,
       'acquired'                      AS pred,
       'Entity' || ((doc_id * 7) % 40) AS obj_surface,
       'https://' || source || '.example.com/doc-' || doc_id AS url
FROM documents
ORDER BY url, subj_surface, obj_surface
"""






def events_from_json_schema(spark: SparkSession, sf: str) -> DataFrame:
    """from_json with an EXPLICIT schema (vs get_json_object string
    pulls) — the schema-on-read -> enforced-schema move of SURVEY §1.3."""
    ev = _t(spark, sf, "events")
    parsed = ev.withColumn(
        "p", F.from_json("props", "k int")
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.sum(F.col("p.k").cast("long")).alias("sum_k"),
            F.count(F.col("p.k")).alias("n_parsed"),
        )
        .orderBy("event_type")
    )


EVENTS_FROM_JSON_SQL = """
SELECT event_type,
       SUM(json_extract_string(props, '$.k')::INT)::BIGINT AS sum_k,
       COUNT(json_extract_string(props, '$.k'))::BIGINT    AS n_parsed
FROM events GROUP BY event_type ORDER BY event_type
"""

# ---------------------------------------------------------------------------
# skew handling (salting is internal — results must equal the plain op)
# ---------------------------------------------------------------------------

def skew_salted_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Two-phase salted aggregation; semantics identical to a plain
    GROUP BY (the salt is an internal rewrite for hub keys)."""
    from clip_retrieval_spark.functions.skew import salted_agg

    li = _t(spark, sf, "lineitem").select("l_returnflag", "l_quantity")
    out = salted_agg(li, ["l_returnflag"], {"l_quantity": "sum"}, n_salts=8)
    return out.select(
        "l_returnflag",
        F.round("sum_l_quantity", 2).alias("sum_qty"),
    ).orderBy("l_returnflag")


SKEW_AGG_SQL = """
SELECT l_returnflag, ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def skew_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """Salted big-x-small equi-join; must equal the plain join."""
    from clip_retrieval_spark.functions.skew import salted_join

    li = _t(spark, sf, "lineitem").select("l_suppkey", "l_quantity")
    sup = _t(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    joined = salted_join(li, sup, "l_suppkey", n_salts=8)
    return (
        joined.groupBy("s_name")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
        .orderBy("s_name")
    )


SKEW_JOIN_SQL = """
SELECT s_name, COUNT(*)::BIGINT AS n, ROUND(SUM(l_quantity), 2) AS qty
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name ORDER BY s_name
"""


def ann_lsh_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """Random-hyperplane-LSH ANN top-5 (the scale path), oracle-checked
    against the EXACT brute-force SQL: at (n_bits=3, n_tables=12) the
    candidate set provably-deterministically contains every true top-5
    neighbor on the test embeddings (verified at sf0.01 and sf0.1 —
    hyperplanes are seeded blake2b constants, so this holds run-to-run).
    On other corpora recall is <1 like any ANN; the unit tests measure
    it explicitly rather than assuming it."""
    from clip_retrieval_spark.operators.similarity import rp_lsh_topk

    emb = _t(spark, sf, "embeddings")
    q = emb.filter("vec_id < 10").selectExpr(
        "vec_id as qid", "embedding as q_emb"
    )
    c = _t_spread(spark, sf, "embeddings", "vec_id").selectExpr(
        "vec_id as cid", "embedding as c_emb"
    )
    return rp_lsh_topk(
        q, c, dim=64, k=5, n_bits=3, n_tables=12,
        exclude_self=True, round_to=6,
    ).withColumn("rnk", F.col("rank")).drop("rank").orderBy("qid", "rnk")


def near_dedup_documents(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH blocking + exact-Jaccard verify + connected-components
    near-dedup groups, oracle-checked: the verify step makes the merge
    graph a pure function of the 0.8 threshold (not of banding luck), so
    the oracle recomputes it EXHAUSTIVELY in SQL and resolves components
    with a recursive CTE. Gate banding is 16 bands of 1 row (a qualifying
    pair at j>=0.8 escapes all 16 buckets with p <= 0.2^16 ~ 7e-12; the
    test corpus' qualifying pairs all sit at j>=0.9) and the bucket cap
    is effectively off at gate scale so candidate recall is total.
    Engine defaults (8x2 banding, cap 512) are exercised in
    tests/test_library_ops.py."""
    from clip_retrieval_spark.operators.dedup import near_dedup_minhash

    docs = _t_spread(spark, sf, "documents", "doc_id").select("doc_id", "text")
    return near_dedup_minhash(
        docs, "doc_id", "text", jaccard_threshold=0.8,
        band_rows=1, max_bucket=1 << 20,
    ).orderBy("doc_id")


NEAR_DEDUP_SQL = """
WITH RECURSIVE
toks AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(tk[i:i+2], ' ')
                        FOR i IN range(1, greatest(len(tk)-2, 1) + 1)])
           AS shl
  FROM toks
),
flat AS (SELECT doc_id, unnest(shl) AS g FROM sh),
sizes AS (SELECT doc_id, len(shl)::BIGINT AS sz FROM sh),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*)::BIGINT AS c
  FROM flat a JOIN flat b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
verified AS (
  SELECT a, b
  FROM inter
  JOIN sizes sa ON sa.doc_id = a
  JOIN sizes sb ON sb.doc_id = b
  WHERE c::DOUBLE / (sa.sz + sb.sz - c) >= 0.8
),
edges AS (SELECT a AS s, b AS d FROM verified
          UNION ALL SELECT b, a FROM verified),
reach AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
)
SELECT d0.doc_id,
       COALESCE(LEAST(MIN(r.d), d0.doc_id), d0.doc_id) AS canonical_id
FROM documents d0 LEFT JOIN reach r ON r.s = d0.doc_id
GROUP BY d0.doc_id ORDER BY d0.doc_id
"""


# ---------------------------------------------------------------------------
# temporal + graph analytics (engine additions beyond the reference)
# ---------------------------------------------------------------------------


def events_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: each purchase attributed to the user's most recent
    click at-or-before the purchase instant (operators.asof — one
    keyed shuffle + running window; no range-join blowup). Ties between
    same-instant clicks resolve to the highest event_id on both engines."""
    from clip_retrieval_spark.operators.asof import asof_join

    ev = _t(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(purchases, clicks, on="user_id", tie_break="event_id")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("right_event_id").alias("last_click_id"),
    ).orderBy("event_id")


EVENTS_ASOF_SQL = """
WITH merged AS (
  SELECT user_id, ts, 0 AS side, event_id AS cid, NULL::BIGINT AS pid
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, 1 AS side, NULL::BIGINT AS cid, event_id AS pid
  FROM events WHERE event_type = 'purchase'
),
carried AS (
  SELECT user_id, ts, pid,
         LAST_VALUE(cid IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, side, cid
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS last_click_id
  FROM merged
)
SELECT pid AS event_id, user_id, ts, last_click_id
FROM carried WHERE pid IS NOT NULL ORDER BY event_id
"""


def _ps_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic bipartite graph: part<->supplier edges that appear
    in lineitem (a KG-shaped edge table with real hub skew)."""
    li = _t(spark, sf, "lineitem")
    return li.select(
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    ).distinct()


_PS_EDGES_SQL = """
  SELECT DISTINCT 'p' || l_partkey::VARCHAR AS src,
                  's' || l_suppkey::VARCHAR AS dst
  FROM lineitem
"""


def kg_degree_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Degree histogram of the part-supplier graph (hub detection over
    materialized KG edges; operators.graph.degree_stats — two algebraic
    aggregations)."""
    from clip_retrieval_spark.operators.graph import degree_stats

    return (
        degree_stats(_ps_edges(spark, sf))
        .select(F.col("degree").cast("long"), F.col("n_nodes").cast("long"))
        .orderBy("degree")
    )


KG_DEGREE_SQL = f"""
WITH edges0 AS ({_PS_EDGES_SQL}),
und AS (SELECT src, dst FROM edges0 UNION SELECT dst, src FROM edges0),
deg AS (SELECT src AS node, COUNT(*)::BIGINT AS degree FROM und GROUP BY 1)
SELECT degree, COUNT(*)::BIGINT AS n_nodes
FROM deg GROUP BY degree ORDER BY degree
"""


def kg_pagerank3(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-3-iteration PageRank over the part-supplier graph
    (operators.graph.pagerank: one join + one map-side-combinable
    groupBy per round, localCheckpoint lineage truncation). Per-round
    ranks rounded to 9 decimals on BOTH engines so float-association
    order can't compound; final report at 6."""
    from clip_retrieval_spark.operators.graph import pagerank

    pr = pagerank(_ps_edges(spark, sf), iterations=3)
    return pr.select(
        "node", F.round("rank", 6).alias("rank")
    ).orderBy("node")


_PR_ROUND = "ROUND(0.15 + 0.85 * SUM(r.rank / d.deg), 9)"
KG_PAGERANK_SQL = f"""
WITH edges0 AS ({_PS_EDGES_SQL}),
und AS (SELECT src, dst FROM edges0 UNION SELECT dst, src FROM edges0),
deg AS (SELECT src AS node, COUNT(*)::BIGINT AS deg FROM und GROUP BY 1),
r0 AS (SELECT node, 1.0::DOUBLE AS rank FROM deg),
r1 AS (SELECT u.dst AS node, {_PR_ROUND} AS rank
       FROM und u JOIN deg d ON u.src = d.node JOIN r0 r ON u.src = r.node
       GROUP BY u.dst),
r2 AS (SELECT u.dst AS node, {_PR_ROUND} AS rank
       FROM und u JOIN deg d ON u.src = d.node JOIN r1 r ON u.src = r.node
       GROUP BY u.dst),
r3 AS (SELECT u.dst AS node, {_PR_ROUND} AS rank
       FROM und u JOIN deg d ON u.src = d.node JOIN r2 r ON u.src = r.node
       GROUP BY u.dst)
SELECT node, ROUND(rank, 6) AS rank FROM r3 ORDER BY node
"""


def ann_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN top-5 (operators.similarity.ivf_topk — the faiss-IVF
    analog, reference clip_back.py:343-399): 16 deterministic centroids
    (embeddings 0..15 as the coarse codebook), nprobe=4. The oracle
    mirrors the IVF semantics EXACTLY in SQL (assignment, probe, rescore
    — not a recall bet against brute force)."""
    from clip_retrieval_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf, "embeddings")
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cell_id"),
        F.col("embedding").alias("centroid"),
    )
    q = emb.filter(F.col("vec_id") < 10).selectExpr(
        "vec_id AS qid", "embedding AS q_emb"
    )
    c = _t_spread(spark, sf, "embeddings", "vec_id").selectExpr(
        "vec_id AS cid", "embedding AS c_emb"
    )
    return (
        ivf_topk(
            q, c, cents, k=5, nprobe=4, exclude_self=True
        )
        .withColumnRenamed("rank", "rnk")
        .orderBy("qid", "rnk")
    )


ANN_IVF_SQL = """
WITH cents AS (
  SELECT vec_id::INT AS cell_id, embedding AS centroid
  FROM embeddings WHERE vec_id < 16
),
assigned AS (
  SELECT cid, c_emb, cell_id FROM (
    SELECT c.vec_id AS cid, c.embedding AS c_emb, ct.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY c.vec_id
             ORDER BY ROUND(list_dot_product(c.embedding::DOUBLE[],
                                             ct.centroid::DOUBLE[]), 6)
                      DESC, ct.cell_id ASC) AS r
    FROM embeddings c CROSS JOIN cents ct
  ) WHERE r = 1
),
probes AS (
  SELECT qid, q_emb, cell_id FROM (
    SELECT q.vec_id AS qid, q.embedding AS q_emb, ct.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND(list_dot_product(q.embedding::DOUBLE[],
                                             ct.centroid::DOUBLE[]), 6)
                      DESC, ct.cell_id ASC) AS r
    FROM embeddings q CROSS JOIN cents ct WHERE q.vec_id < 10
  ) WHERE r <= 4
),
cand AS (
  SELECT p.qid, a.cid,
         ROUND(list_dot_product(p.q_emb::DOUBLE[], a.c_emb::DOUBLE[]), 6)
           AS score
  FROM probes p JOIN assigned a ON p.cell_id = a.cell_id
  WHERE p.qid <> a.cid
)
SELECT qid, cid, score, rnk FROM (
  SELECT qid, cid, score,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY score DESC, cid ASC)::INT AS rnk
  FROM cand
) WHERE rnk <= 5 ORDER BY qid, rnk
"""


# ---------------------------------------------------------------------------
# round-3 engine additions: in-engine IVF training, IR scoring, graph
# closure, training-data quality/contamination/sampling
# ---------------------------------------------------------------------------


def kmeans_assign2(spark: SparkSession, sf: str) -> DataFrame:
    """In-engine k-means (operators.kmeans): 8 cells, 2 Lloyd rounds,
    deterministic id-ordered seeding — the trainer for ivf_topk's
    coarse codebook, itself oracle-checked end-to-end (assignment fold,
    per-dim means, re-assignment all mirrored in unrolled SQL)."""
    from clip_retrieval_spark.operators.kmeans import kmeans_assign

    # _t_spread: the single-row-group embeddings file would pin every
    # assignment fold to one scan task (guide §2.5)
    emb = _t_spread(spark, sf, "embeddings", "vec_id")
    return kmeans_assign(emb, k=8).orderBy("vec_id")


_KM_ASSIGN = """
  SELECT vec_id, cell FROM (
    SELECT p.vec_id, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY p.vec_id
             ORDER BY ROUND(list_dot_product(c.cv, c.cv)
                            - 2 * list_dot_product(p.v, c.cv), 6) ASC,
                      c.cell ASC) AS r
    FROM pts p CROSS JOIN {cents} c
  ) WHERE r = 1
"""

_KM_MEANS = """
  SELECT {a}.cell, i.i AS i, ROUND(AVG(p.v[i.i]), 6) AS m
  FROM {a} JOIN pts p USING (vec_id),
       (SELECT unnest(range(1, 65)) AS i) i
  GROUP BY {a}.cell, i.i
"""

# two Lloyd rounds then the final assignment: c0 -> a1 -> c1 -> a2 ->
# c2 -> a3 (kmeans_assign(iterations=2) = fit's 2 updates + 1 assign)
KMEANS_SQL = f"""
WITH pts AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c0 AS (
  SELECT (ROW_NUMBER() OVER (ORDER BY vec_id) - 1)::INT AS cell,
         list_transform(v, x -> ROUND(x, 6)) AS cv
  FROM pts ORDER BY vec_id LIMIT 8
),
a1 AS ({_KM_ASSIGN.format(cents="c0")}),
m1 AS ({_KM_MEANS.format(a="a1")}),
c1 AS (SELECT cell, array_agg(m ORDER BY i) AS cv FROM m1 GROUP BY cell),
a2 AS ({_KM_ASSIGN.format(cents="c1")}),
m2 AS ({_KM_MEANS.format(a="a2")}),
c2 AS (SELECT cell, array_agg(m ORDER BY i) AS cv FROM m2 GROUP BY cell),
a3 AS ({_KM_ASSIGN.format(cents="c2")})
SELECT vec_id, cell AS cell_id FROM a3 ORDER BY vec_id
"""


def pq_adc_search(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ADC top-5 (operators.pq — the faiss
    IndexPQ analog): 8 subspaces x 16 cells, codebooks fixed to slices
    of embeddings 0..15 (dense, deterministic — training itself is
    pytest-gated against numpy). The oracle mirrors the PQ semantics
    EXACTLY in SQL: per-subspace argmin encode, per-query LUT,
    sum-of-lookups score — not a recall bet against brute force."""
    from clip_retrieval_spark.operators.pq import pq_adc_topk, pq_encode

    emb = _t_spread(spark, sf, "embeddings", "vec_id")
    cb = (
        _t(spark, sf, "embeddings").filter(F.col("vec_id") < 16)
        .select(
            F.col("vec_id").cast("int").alias("cell_id"),
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("sub"),
            "embedding",
        )
        .select(
            "sub",
            "cell_id",
            F.expr(
                "transform(slice(embedding, sub*8+1, 8),"
                " x -> cast(x as double))"
            ).alias("centroid"),
        )
    )
    codes = pq_encode(
        emb.selectExpr("vec_id as cid", "embedding as c_emb"), cb, dim=64,
        m=8,
    )
    q = _t(spark, sf, "embeddings").filter("vec_id < 10").selectExpr(
        "vec_id as qid", "embedding as q_emb"
    )
    return (
        pq_adc_topk(q, codes, cb, dim=64, k=5, exclude_self=True, m=8)
        .withColumnRenamed("rank", "rnk")
        .orderBy("qid", "rnk")
    )


PQ_ADC_SQL = """
WITH pts AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cb AS (
  SELECT s.s AS sub, p.vec_id::INT AS cell,
         p.v[s.s * 8 + 1 : s.s * 8 + 8] AS cv
  FROM pts p, (SELECT unnest(range(8)) AS s) s
  WHERE p.vec_id < 16
),
codes AS (
  SELECT vec_id AS cid, sub, cell FROM (
    SELECT p.vec_id, c.sub, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY p.vec_id, c.sub
             ORDER BY ROUND(list_dot_product(c.cv, c.cv)
                            - 2 * list_dot_product(
                                p.v[c.sub * 8 + 1 : c.sub * 8 + 8], c.cv),
                            6) ASC,
                      c.cell ASC) AS r
    FROM pts p CROSS JOIN cb c
  ) WHERE r = 1
),
lut AS (
  SELECT q.vec_id AS qid, c.sub, c.cell,
         ROUND(list_dot_product(
             q.v[c.sub * 8 + 1 : c.sub * 8 + 8], c.cv), 6) AS d
  FROM pts q CROSS JOIN cb c WHERE q.vec_id < 10
),
scored AS (
  SELECT l.qid, co.cid, ROUND(SUM(l.d), 6) AS score
  FROM codes co JOIN lut l ON l.sub = co.sub AND l.cell = co.cell
  WHERE l.qid <> co.cid
  GROUP BY l.qid, co.cid
)
SELECT qid, cid, score, rnk FROM (
  SELECT qid, cid, score,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY score DESC, cid ASC)::INT AS rnk
  FROM scored
) WHERE rnk <= 5 ORDER BY qid, rnk
"""


def bm25_topterms(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 term scoring (k1=1.2, b=0.75) with a RATIONAL idf
    ((N - df + 0.5) / (df + 0.5), no ln — transcendentals are the one
    place libm implementations may diverge across engines; every other
    factor is exact integer-derived IEEE arithmetic). Top-3 terms per
    document for doc_id < 30. At scale: tf/df/dl are three
    map-side-combinable aggregations; the df join is a vocabulary-sized
    shuffle, never a corpus-sized one."""
    docs = _t_spread(spark, sf, "documents", "doc_id").select("doc_id", "text")
    toks = _tok_stream(docs, "doc_id")
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    scalars = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    denom = F.col("tf") + F.lit(1.2) * (
        F.lit(0.25) + F.lit(0.75) * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.filter(F.col("doc_id") < 30)
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(scalars))
        .join(dfreq, "tok")
        .withColumn(
            "score",
            F.round(idf * (F.col("tf") * F.lit(2.2)) / denom, 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter("rnk <= 3")
        .select("doc_id", "tok", "score", "rnk")
        .orderBy("doc_id", "rnk")
    )


BM25_SQL = """
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
),
tf AS (SELECT doc_id, tok, COUNT(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, SUM(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
scalars AS (
  SELECT COUNT(*)::DOUBLE AS n_docs, AVG(dl::DOUBLE) AS avgdl FROM dl
),
dfreq AS (SELECT tok, COUNT(*)::BIGINT AS df FROM tf GROUP BY tok),
scored AS (
  SELECT tf.doc_id, tf.tok,
         ROUND(((s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)),
               6) AS score
  FROM tf
  JOIN dl USING (doc_id) CROSS JOIN scalars s JOIN dfreq USING (tok)
  WHERE tf.doc_id < 30
),
ranked AS (
  SELECT doc_id, tok, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, tok ASC)::INT AS rnk
  FROM scored
)
SELECT doc_id, tok, score, rnk FROM ranked WHERE rnk <= 3
ORDER BY doc_id, rnk
"""


def doc_triangle_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Per-node triangle participation over the near-dup similarity
    graph (Jaccard >= 0.8 pairs as edges): duplicate-cluster density
    analysis via operators.graph.triangle_count — degree-oriented wedge
    closure, per-key fanout bounded by the orientation out-degree (the
    O(sqrt m) arboricity bound), never by raw hub degree. The 0.8
    threshold keeps the edge set to true near-dup clusters: at 0.5 the
    synthetic corpus' template-shared docs form ~200-clique components
    whose exact triangle count is intrinsically cubic in clique size —
    no algorithm avoids enumerating Theta(m^3) triangles per clique."""
    from clip_retrieval_spark.operators.graph import triangle_count

    edges = _near_dup_edges(spark, sf)
    return (
        triangle_count(edges)
        .select("node", F.col("n_triangles").cast("long"))
        .orderBy("node")
    )


TRIANGLE_SQL = f"""
WITH pairs AS (SELECT a, b FROM ({DEDUP_JACCARD_SQL}) j
               WHERE jaccard >= 0.8),
und AS (SELECT a AS src, b AS dst FROM pairs
        UNION SELECT b, a FROM pairs),
deg AS (SELECT src AS n, COUNT(*)::BIGINT AS d FROM und GROUP BY src),
ori AS (
  SELECT u.src AS u, u.dst AS v
  FROM und u JOIN deg d1 ON d1.n = u.src JOIN deg d2 ON d2.n = u.dst
  WHERE d1.d < d2.d OR (d1.d = d2.d AND u.src < u.dst)
),
wed AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM ori e1 JOIN ori e2 ON e1.u = e2.u AND e1.v <> e2.v
),
tri AS (SELECT w.a, w.b, w.c
        FROM wed w JOIN ori o ON o.u = w.b AND o.v = w.c),
corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node, COUNT(*)::BIGINT AS n_triangles
FROM corners GROUP BY node ORDER BY node
"""


def quality_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher/MassiveText-style repetition signals per document:
    duplicate-word fraction, top-unigram fraction, top-bigram fraction.
    All exact integer-ratio arithmetic (deterministic cross-engine);
    unigram/bigram tops are two map-side-combinable count aggregations,
    bigrams built by an in-row slice zip (no extra pass over the
    corpus)."""
    docs = _t_spread(spark, sf, "documents", "doc_id").select("doc_id", "text")
    base = docs.select("doc_id", _toks().alias("tk")).select(
        "doc_id",
        "tk",
        F.size("tk").alias("w"),
        F.size(F.array_distinct("tk")).alias("d"),
    )
    uni = (
        base.select("doc_id", F.explode("tk").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("t1"))
    )
    bigrams = F.zip_with(
        F.slice("tk", 1, F.col("w") - 1),
        F.slice("tk", 2, F.col("w") - 1),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    bi = (
        base.filter(F.col("w") > 1)
        .select("doc_id", F.explode(bigrams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("t2"))
    )
    return (
        base.join(uni, "doc_id", "left")
        .join(bi, "doc_id", "left")
        .select(
            "doc_id",
            F.col("w").cast("long").alias("n_words"),
            F.round(
                F.lit(1.0) - F.col("d").cast("double") / F.col("w"), 6
            ).alias("dup_word_frac"),
            F.round(
                F.coalesce(F.col("t1"), F.lit(0)).cast("double")
                / F.col("w"),
                6,
            ).alias("top_unigram_frac"),
            F.when(
                F.col("w") > 1,
                F.round(
                    F.coalesce(F.col("t2"), F.lit(0)).cast("double")
                    / (F.col("w") - 1),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("top_bigram_frac"),
        )
        .orderBy("doc_id")
    )


QUALITY_REPETITION_SQL = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
sized AS (
  SELECT doc_id, tk, len(tk)::BIGINT AS w,
         len(list_distinct(tk))::BIGINT AS d
  FROM base
),
uni AS (
  SELECT doc_id, MAX(c) AS t1 FROM (
    SELECT doc_id, g, COUNT(*)::BIGINT AS c
    FROM (SELECT doc_id, unnest(tk) AS g FROM base) GROUP BY 1, 2
  ) GROUP BY doc_id
),
bi AS (
  SELECT doc_id, MAX(c) AS t2 FROM (
    SELECT doc_id, g, COUNT(*)::BIGINT AS c
    FROM (SELECT doc_id,
                 unnest([tk[i] || ' ' || tk[i + 1]
                         FOR i IN range(1, len(tk))]) AS g
          FROM base WHERE len(tk) > 1) GROUP BY 1, 2
  ) GROUP BY doc_id
)
SELECT s.doc_id, s.w AS n_words,
       ROUND(1.0 - s.d::DOUBLE / s.w, 6) AS dup_word_frac,
       ROUND(COALESCE(u.t1, 0)::DOUBLE / s.w, 6) AS top_unigram_frac,
       CASE WHEN s.w > 1
            THEN ROUND(COALESCE(b.t2, 0)::DOUBLE / (s.w - 1), 6)
            ELSE 0.0 END AS top_bigram_frac
FROM sized s LEFT JOIN uni u USING (doc_id) LEFT JOIN bi b USING (doc_id)
ORDER BY s.doc_id
"""


def contamination_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    """Train/benchmark contamination check: documents with doc_id < 100
    play the benchmark; every train doc (id >= 100) reports how many
    distinct 8-gram (word) shingles it shares with ANY benchmark doc.
    The n-gram surface is md5-hashed so the overlap join carries
    fixed-width keys, and the benchmark side is the broadcast side at
    scale (the eval set is always tiny next to the corpus)."""
    docs = _t_spread(spark, sf, "documents", "doc_id").select("doc_id", "text")
    arr = _toks()
    grams = docs.select(
        "doc_id",
        F.explode(
            F.when(
                F.size(arr) >= 8,
                F.transform(
                    F.sequence(F.lit(1), F.size(arr) - 7),
                    lambda i: F.md5(
                        F.array_join(F.slice(arr, i, 8), " ")
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
    ).distinct()
    bench = grams.filter(F.col("doc_id") < 100).select("g").distinct()
    train = grams.filter(F.col("doc_id") >= 100)
    return (
        train.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_ngrams"))
        .orderBy("doc_id")
    )


CONTAMINATION_SQL = """
WITH grams AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id,
           unnest([md5(array_to_string(tk[i:i + 7], ' '))
                   FOR i IN range(1, len(tk) - 6)]) AS g
    FROM (SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS tk
          FROM documents)
    WHERE len(tk) >= 8
  )
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 100),
train AS (SELECT doc_id, g FROM grams WHERE doc_id >= 100)
SELECT t.doc_id, COUNT(*)::BIGINT AS n_shared_ngrams
FROM train t JOIN bench b USING (g)
GROUP BY t.doc_id ORDER BY t.doc_id
"""


def sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic per-stratum hash sampling (the engine's sampler is
    hash-based, not RNG-based, so samples are reproducible across runs,
    engines, and retries — the property a 100 TB pipeline needs for
    resumable subset jobs). Rates: src0 50%, src1 25%, rest 10%;
    membership = md5(doc_id) mod 100 < rate. Reports per-stratum totals
    plus an id checksum of the selected rows."""
    docs = _t(spark, sf, "documents").select("doc_id", "source")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    rate = (
        F.when(F.col("source") == "src0", 50)
        .when(F.col("source") == "src1", 25)
        .otherwise(10)
    )
    flagged = docs.withColumn("_keep", (bucket < rate).cast("int"))
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("_keep").cast("long").alias("n_sampled"),
            F.sum(
                F.when(F.col("_keep") == 1, F.col("doc_id")).otherwise(0)
            ).cast("long").alias("sampled_id_sum"),
        )
        .orderBy("source")
    )


SAMPLE_STRATIFIED_SQL = """
WITH flagged AS (
  SELECT source, doc_id,
         CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                   % 100
                   < (CASE source WHEN 'src0' THEN 50
                                  WHEN 'src1' THEN 25 ELSE 10 END)
              THEN 1 ELSE 0 END AS keep
  FROM documents
)
SELECT source, COUNT(*)::BIGINT AS n_total,
       SUM(keep)::BIGINT AS n_sampled,
       SUM(CASE WHEN keep = 1 THEN doc_id ELSE 0 END)::BIGINT
         AS sampled_id_sum
FROM flagged GROUP BY source ORDER BY source
"""


def url_canonicalize(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization + canonical-URL dedup — the web-crawl
    pipeline's first dedup pass (before any content hashing). The
    messy URL is synthesized deterministically per doc on BOTH engines
    (the test tables carry no URL column), then canonicalized:

      * scheme + host lowercased (path case PRESERVED — real servers
        are case-sensitive in paths)
      * default :443 port stripped
      * fragment dropped
      * tracking params (utm_*, fbclid) dropped
      * surviving query params sorted

    Output: one row per canonical URL with the duplicate count and the
    keeper (min doc_id) — pure JVM string/array functions, no UDF; at
    corpus scale this is a narrow map + one hash aggregation."""
    docs = _t(spark, sf, "documents").select("doc_id", "source")
    url = F.concat(
        F.lit("HTTPS://WWW."),
        F.upper(F.col("source")),
        F.lit(".Example.COM:443/Doc/"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("?utm_source=feed&z=9&ref="),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("&utm_medium=rss&a=1#frag"),
    )
    base = F.substring_index(F.regexp_replace(url, "#.*$", ""), "?", 1)
    qs = F.substring_index(F.regexp_replace(url, "#.*$", ""), "?", -1)
    scheme_host = F.regexp_replace(
        F.lower(F.regexp_extract(base, "^([^/]*//[^/]+)", 1)),
        ":443$",
        "",
    )
    path = F.regexp_replace(base, "^[^/]*//[^/]+", "")
    params = F.array_sort(
        F.filter(
            F.split(qs, "&"),
            lambda p: ~p.startswith("utm_") & ~p.startswith("fbclid"),
        )
    )
    canonical = F.concat(
        scheme_host, path, F.lit("?"), F.array_join(params, "&")
    )
    return (
        docs.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("keeper"),
        )
        .orderBy("canonical_url")
    )


URL_CANONICALIZE_SQL = """
WITH raw AS (
  SELECT doc_id,
         'HTTPS://WWW.' || upper(source) || '.Example.COM:443/Doc/' ||
         (doc_id % 50)::VARCHAR || '?utm_source=feed&z=9&ref=' ||
         (doc_id % 7)::VARCHAR || '&utm_medium=rss&a=1#frag' AS url
  FROM documents
),
defrag AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM raw),
parts AS (
  SELECT doc_id,
         split_part(u, '?', 1) AS base,
         split_part(u, '?', 2) AS qs
  FROM defrag
),
canon AS (
  SELECT doc_id,
         regexp_replace(
             lower(regexp_extract(base, '^([^/]*//[^/]+)', 1)),
             ':443$', '')
         || regexp_replace(base, '^[^/]*//[^/]+', '')
         || '?'
         || array_to_string(
              list_sort(list_filter(string_split(qs, '&'),
                        p -> NOT starts_with(p, 'utm_')
                             AND NOT starts_with(p, 'fbclid'))),
              '&') AS canonical_url
  FROM parts
)
SELECT canonical_url, COUNT(*)::BIGINT AS n_docs, MIN(doc_id) AS keeper
FROM canon GROUP BY canonical_url ORDER BY canonical_url
"""


_CHUNK_W = 8  # tokens per non-overlapping chunk


def _chunk_idx(toks: F.Column) -> tuple[F.Column, F.Column]:
    """(n_chunks, idx) of a token array: how many whole _CHUNK_W-token
    chunks it holds and their 1-based indices. Guard: sequence(1, 0) is
    the DESCENDING [1, 0] in Spark, which would emit two phantom chunks
    for sub-8-token docs where the oracles' range(1, 1) emits none."""
    n_chunks = F.floor(F.size(toks) / _CHUNK_W).cast("int")
    idx = F.when(
        n_chunks >= 1, F.sequence(F.lit(1), n_chunks)
    ).otherwise(F.array().cast("array<int>"))
    return n_chunks, idx


def _chunk_arr(idx: F.Column, toks: F.Column) -> F.Column:
    """The chunks ``idx`` (from ``_chunk_idx``) of a token array, each
    its _CHUNK_W tokens joined by single spaces."""
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.slice(toks, (i - 1) * _CHUNK_W + 1, _CHUNK_W)
        ),
    )


def chunk_dedup_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """Exact substring-level dedup at chunk granularity (the
    Lee et al. 2022 'Deduplicating Training Data' exact-substring
    signal, restated over non-overlapping 8-token chunks): a chunk is
    duplicated if the SAME 8 tokens appear as a chunk in >= 2 distinct
    documents; each doc reports its duplicated-chunk ratio.

    Whole-doc hashing (dedup_exact) misses partial boilerplate;
    MinHash (near_dedup_documents) scores global overlap. This is the
    middle granularity: which SPANS are copied. Shape at scale: narrow
    in-row chunking (split + slice, no explode until the chunk table),
    computed ONCE (the previous dup-side/per-doc-side branches chunked
    the corpus twice); duplication is decided by a window count over
    the one (h, doc_id)-reduced exchange instead of a count-distinct
    aggregation plus a join back; the chunk key shuffles as 16-byte
    unhex(md5) binary, not the 32-char hex string (guide §2.3:
    narrower shuffle keys)."""
    docs = _t_spread(spark, sf, "documents", "doc_id").select(
        "doc_id", "text"
    )
    toks = _toks()
    _, idx = _chunk_idx(toks)
    chunks = docs.select(
        "doc_id", F.explode(_chunk_arr(idx, toks)).alias("chunk")
    ).select("doc_id", F.unhex(F.md5("chunk")).alias("h"))
    # (h, doc_id, instance count): one map-side-combinable reduction;
    # a chunk hash is duplicated iff >= 2 rows (= distinct docs) share
    # it, decided by a window count over the same exchange
    cd = chunks.groupBy("h", "doc_id").agg(F.count("*").alias("_c"))
    wnd = cd.withColumn(
        "_nd", F.count("*").over(Window.partitionBy("h"))
    )
    return (
        wnd.groupBy("doc_id")
        .agg(
            F.sum("_c").cast("long").alias("n_chunks"),
            F.sum(
                F.when(F.col("_nd") >= 2, F.col("_c")).otherwise(F.lit(0))
            ).cast("long").alias("n_dup_chunks"),
        )
        .withColumn(
            "dup_ratio",
            F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 4),
        )
        .orderBy("doc_id")
    )


CHUNK_DEDUP_SQL = f"""
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
chunks AS (
  SELECT doc_id,
         md5(c) AS h
  FROM (
    SELECT doc_id,
           unnest([array_to_string(t[(i-1)*{_CHUNK_W}+1 : i*{_CHUNK_W}], ' ')
                   FOR i IN range(1, (len(t) // {_CHUNK_W}) + 1)]) AS c
    FROM tk
  )
  WHERE c IS NOT NULL
),
dup AS (
  SELECT h FROM chunks GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT c.doc_id,
       COUNT(*)::BIGINT AS n_chunks,
       SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_dup_chunks,
       ROUND(SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*), 4) AS dup_ratio
FROM chunks c LEFT JOIN dup d ON c.h = d.h
GROUP BY c.doc_id
HAVING COUNT(*) > 0
ORDER BY c.doc_id
"""


def doc_communities_lpa(spark: SparkSession, sf: str) -> DataFrame:
    """Community detection over the near-dup similarity graph
    (Jaccard >= 0.8 edges) via 3 rounds of synchronous min-label
    propagation (operators.graph.label_propagation_min): each node
    ends up carrying the smallest doc_id within 3 hops — a
    locality-bounded, fully deterministic community id the oracle
    replays by unrolling the 3 rounds in SQL."""
    from clip_retrieval_spark.operators.graph import label_propagation_min

    edges = _near_dup_edges(spark, sf)
    return (
        label_propagation_min(edges, rounds=3)
        .select(F.col("node").alias("doc_id"), "community")
        .orderBy("doc_id")
    )


def _lpa_round(prev: str, out: str) -> str:
    return f"""
n{out} AS (
  SELECT e.dst AS id, MIN(l.lab) AS nmin
  FROM und e JOIN {prev} l ON e.src = l.id GROUP BY e.dst
),
{out} AS (
  SELECT p.id, LEAST(p.lab, COALESCE(n.nmin, p.lab)) AS lab
  FROM {prev} p LEFT JOIN n{out} n ON p.id = n.id
)"""


DOC_COMMUNITIES_SQL = f"""
WITH pairs AS (SELECT a, b FROM ({DEDUP_JACCARD_SQL}) j
               WHERE jaccard >= 0.8),
und AS (SELECT a AS src, b AS dst FROM pairs
        UNION SELECT b, a FROM pairs),
l0 AS (SELECT DISTINCT src AS id, src AS lab FROM und),
{_lpa_round('l0', 'l1')},
{_lpa_round('l1', 'l2')},
{_lpa_round('l2', 'l3')}
SELECT id AS doc_id, lab AS community FROM l3 ORDER BY doc_id
"""


def events_scd2_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) compaction of the events
    stream: per user, collapse consecutive same-``event_type`` rows and
    emit validity intervals [valid_from, valid_to) per attribute run —
    the change-data-capture shape a KG needs to version entity facts.

    Two window passes over ONE (user_id)-keyed shuffle (lag to mark run
    starts, lead over run starts for the closing bound); ties on ts are
    broken by event_id so both engines agree on run boundaries."""
    ev = _t(spark, sf, "events").select("event_id", "ts", "user_id",
                                        "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    starts = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .drop("prev_type")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        starts.withColumn("next_ts", F.lead("ts").over(w2))
        .select(
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
            F.coalesce(
                F.date_format("next_ts", "yyyy-MM-dd HH:mm:ss"),
                F.lit("9999-12-31 00:00:00"),
            ).alias("valid_to"),
        )
        .orderBy("user_id", "valid_from", "event_type")
    )


EVENTS_SCD2_SQL = """
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
starts AS (
  SELECT user_id, event_type, ts, event_id FROM marked
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       COALESCE(
         strftime(LEAD(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id),
                  '%Y-%m-%d %H:%M:%S'),
         '9999-12-31 00:00:00') AS valid_to
FROM starts
ORDER BY user_id, valid_from, event_type
"""


def semantic_dedup_keep(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (operators.dedup.semantic_dedup): assign embeddings to
    the 8 seed centroids (first 8 rows by vec_id, raw values), then
    within each cell drop every vector whose cosine to a lower-id
    cell-mate rounds to >= 0.30. The operator's dim-ordered gram
    accumulation is bit-identical to DuckDB's list_dot_product fold,
    so the oracle replays assignment + EXISTS drop rule exactly."""
    from clip_retrieval_spark.operators.dedup import semantic_dedup

    emb = _t_spread(spark, sf, "embeddings", "vec_id").select(
        "vec_id", "embedding"
    )
    cents = (
        _t(spark, sf, "embeddings").select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(8)
        .withColumn(
            "cell_id",
            (F.row_number().over(Window.orderBy("vec_id")) - 1).cast(
                "int"
            ),
        )
        .select("cell_id", F.col("embedding").alias("centroid"))
    )
    return semantic_dedup(emb, cents, threshold=0.30).orderBy("vec_id")


SEMANTIC_DEDUP_SQL = f"""
WITH pts AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c0 AS (
  SELECT (ROW_NUMBER() OVER (ORDER BY vec_id) - 1)::INT AS cell, v AS cv
  FROM pts ORDER BY vec_id LIMIT 8
),
a AS ({_KM_ASSIGN.format(cents="c0")}),
nrm AS (
  SELECT a.vec_id, a.cell,
         CASE WHEN list_dot_product(p.v, p.v) = 0 THEN p.v
              ELSE list_transform(
                     p.v, x -> x / sqrt(list_dot_product(p.v, p.v)))
         END AS nv
  FROM a JOIN pts p USING (vec_id)
),
dup AS (
  SELECT DISTINCT hi.vec_id
  FROM nrm hi JOIN nrm lo
    ON hi.cell = lo.cell AND lo.vec_id < hi.vec_id
  WHERE ROUND(list_dot_product(hi.nv, lo.nv), 6) >= 0.30
)
SELECT n.vec_id, n.cell AS cell_id, (d.vec_id IS NULL) AS keep
FROM nrm n LEFT JOIN dup d ON n.vec_id = d.vec_id
ORDER BY n.vec_id
"""


def lm_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram language-model perplexity per document, trained on the
    corpus itself with add-1 smoothing — the KenLM-style quality
    signal LLM-data pipelines score every page with (high perplexity
    under an in-domain LM ~ boilerplate/garble).

    P(w2|w1) = (c(w1,w2) + 1) / (ctx(w1) + V); per-doc score is the
    mean negative log-likelihood over its bigrams, ppl = exp(mean).

    Scale shape (r6): c(w1,w2) and ctx(w1) are WINDOW counts over the
    occurrence stream — the (w1,w2) exchange then the (w1) exchange —
    so the bigram table is built once (the previous join-based plan
    re-ran the explode for the bgc branch and shuffled occurrences a
    third time through the two joins); V is a broadcast scalar. Hub
    contexts ('the', 'of') are the skew class functions.skew handles —
    at cluster scale a salted two-level count replaces the hub window
    the same way it would the hub join."""
    docs = _t_spread(spark, sf, "documents", "doc_id").select(
        "doc_id", "text"
    )
    tk = docs.select("doc_id", _toks(F.lower("text")).alias("t"))
    occ = (
        tk.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(_bigram_arr()).alias("bg"),
        )
        .select("doc_id", "bg.w1", "bg.w2")
    )
    vocab = tk.select(F.explode("t").alias("tok")).agg(
        F.countDistinct("tok").cast("double").alias("v")
    )
    # c(w1,w2) = rows in the (w1,w2) window; ctx(w1) = rows in the (w1)
    # window (= sum of c over w2) — same integers the old aggregations
    # produced, no joins, occurrences exploded exactly once
    scored = (
        occ.withColumn(
            "cnt",
            F.count("*").over(Window.partitionBy("w1", "w2")).cast(
                "double"
            ),
        )
        .withColumn(
            "cw",
            F.count("*").over(Window.partitionBy("w1")).cast("double"),
        )
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "nll",
            -F.log((F.col("cnt") + 1) / (F.col("cw") + F.col("v"))),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("nll"), 6).alias("avg_nll"),
        )
        .withColumn("ppl", F.round(F.exp("avg_nll"), 4))
        .orderBy("doc_id")
    )


LM_PERPLEXITY_SQL = """
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
),
occ AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT * FROM tk WHERE len(t) >= 2),
       LATERAL (SELECT unnest(range(1, len(t))) AS i) ix
),
bgc AS (SELECT w1, w2, COUNT(*)::DOUBLE AS cnt FROM occ GROUP BY w1, w2),
ctx AS (SELECT w1, SUM(cnt) AS cw FROM bgc GROUP BY w1),
vocab AS (
  SELECT COUNT(DISTINCT tok)::DOUBLE AS v
  FROM (SELECT unnest(t) AS tok FROM tk)
),
scored AS (
  SELECT o.doc_id, -ln((b.cnt + 1) / (c.cw + vocab.v)) AS nll
  FROM occ o JOIN bgc b USING (w1, w2) JOIN ctx c USING (w1)
  CROSS JOIN vocab
)
SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
       ROUND(AVG(nll), 6) AS avg_nll,
       ROUND(EXP(ROUND(AVG(nll), 6)), 4) AS ppl
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


def link_prediction_topk(spark: SparkSession, sf: str) -> DataFrame:
    """KG link prediction by neighborhood Jaccard (common-neighbors
    normalized): over the near-dup similarity graph (Jaccard >= 0.8
    edges, same graph as doc_triangle_counts / doc_communities_lpa),
    score every non-adjacent pair at distance 2 with
    |N(u) n N(v)| / |N(u) u N(v)| and emit the top 50 predicted
    links — the classic missing-edge heuristic a KG completion pass
    runs before any learned model.

    Scale shape: the wedge join fans out as sum(deg(x)^2) over shared
    neighbors x — hub-bounded; production callers cap or orient hubs
    exactly as operators.graph.triangle_counts does. Aggregations are
    algebraic; the final top-k is a single total-order sort."""
    pairs = _near_dup_edges(spark, sf)
    und = pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = und.groupBy("src").agg(
        F.count("*").cast("double").alias("deg")
    ).withColumnRenamed("src", "n")
    e1 = und.select(F.col("dst").alias("x"), F.col("src").alias("u"))
    e2 = und.select(F.col("dst").alias("x"), F.col("src").alias("v"))
    common = (
        e1.join(e2, "x")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("cn"))
    )
    cand = common.join(
        pairs,
        (common["u"] == pairs["src"]) & (common["v"] == pairs["dst"]),
        "left_anti",
    )
    du = deg.withColumnRenamed("deg", "deg_u")
    dv = deg.withColumnRenamed("deg", "deg_v")
    return (
        cand.join(du, cand["u"] == du["n"])
        .drop("n")
        .join(dv, cand["v"] == dv["n"])
        .drop("n")
        .select(
            F.col("u").alias("a"),
            F.col("v").alias("b"),
            F.col("cn").alias("common_nb"),
            F.round(
                F.col("cn")
                / (F.col("deg_u") + F.col("deg_v") - F.col("cn")),
                6,
            ).alias("jac"),
        )
        .orderBy(F.desc("jac"), "a", "b")
        .limit(50)
    )


LINK_PREDICTION_SQL = f"""
WITH pairs AS (SELECT a, b FROM ({DEDUP_JACCARD_SQL}) j
               WHERE jaccard >= 0.8),
und AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
deg AS (SELECT a AS n, COUNT(*)::DOUBLE AS deg FROM und GROUP BY a),
common AS (
  SELECT e1.a AS u, e2.a AS v, COUNT(*)::BIGINT AS cn
  FROM und e1 JOIN und e2 ON e1.b = e2.b AND e1.a < e2.a
  GROUP BY e1.a, e2.a
),
cand AS (
  SELECT c.* FROM common c
  WHERE NOT EXISTS (
    SELECT 1 FROM pairs p WHERE p.a = c.u AND p.b = c.v
  )
)
SELECT c.u AS a, c.v AS b, c.cn AS common_nb,
       ROUND(c.cn / (du.deg + dv.deg - c.cn), 6) AS jac
FROM cand c JOIN deg du ON du.n = c.u JOIN deg dv ON dv.n = c.v
ORDER BY jac DESC, a, b LIMIT 50
"""


def quality_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-source quantiles of the composite quality score —
    the distribution audit a curation pass runs before picking filter
    thresholds (what score cuts the bottom 25%?).

    Uses EXACT interpolating percentiles (F.percentile ==
    quantile_cont semantics: rank p*(n-1), linear interpolation) so
    DuckDB replays it bit-for-bit on the 4-decimal-rounded scores.
    At 10^12 rows the same call site swaps to approx_percentile
    (t-digest sketch, mergeable, no per-group sort) — exactness here
    is a small-group property, not the operator contract."""
    q = quality_scores(spark, sf).select("doc_id", "quality")
    src = _t(spark, sf, "documents").select("doc_id", "source")
    aggs = [
        F.round(F.percentile("quality", F.lit(p)), 4).alias(
            f"p{int(p * 100)}"
        )
        for p in (0.25, 0.5, 0.75, 0.9)
    ]
    return (
        q.join(src, "doc_id")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), *aggs)
        .orderBy("source")
    )


QUALITY_PERCENTILES_SQL = f"""
WITH q AS (SELECT doc_id, quality FROM ({QUALITY_SQL.replace("ORDER BY doc_id", "")}) s),
j AS (SELECT d.source, q.quality FROM q JOIN documents d USING (doc_id))
SELECT source, COUNT(*)::BIGINT AS n_docs,
       ROUND(quantile_cont(quality, 0.25), 4) AS p25,
       ROUND(quantile_cont(quality, 0.50), 4) AS p50,
       ROUND(quantile_cont(quality, 0.75), 4) AS p75,
       ROUND(quantile_cont(quality, 0.90), 4) AS p90
FROM j GROUP BY source ORDER BY source
"""


def distinct_sketch_kmv(spark: SparkSession, sf: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per source, k=16,
    cross-checked against the exact distinct count — the mergeable
    cardinality sketch (Bar-Yossef et al. 2002; the HLL alternative
    whose estimator is exactly SQL-replayable): hash every distinct
    token to a uniform fraction in [0,1), keep the k smallest per
    group, estimate (k-1)/kth_min.

    The hash fraction is the first 13 hex digits of md5 (52 bits —
    exact in a double) so DuckDB reproduces it digit-for-digit. The
    sketch itself is an algebraic agg at scale (a bounded min-k heap
    merges associatively); the exact count rides along here only to
    report the realized relative error."""
    toks = (
        _doc_tokens_src(spark, sf)
        .select("source", "tok")
        .distinct()
    )
    frac = (
        F.conv(F.substring(F.md5("tok"), 1, 13), 16, 10).cast("double")
        / F.lit(float(16**13))
    )
    hashed = toks.select("source", frac.alias("frac"))
    k = 16
    w = Window.partitionBy("source").orderBy("frac")
    kth = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == k)
        .select("source", F.col("frac").alias("kth"))
    )
    exact = hashed.groupBy("source").agg(
        F.count("*").alias("exact_distinct")
    )
    return (
        exact.join(kth, "source")
        .select(
            "source",
            "exact_distinct",
            F.round((F.lit(k - 1) / F.col("kth")), 2).alias(
                "kmv_estimate"
            ),
            F.round(
                F.abs(F.lit(k - 1) / F.col("kth") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                4,
            ).alias("rel_err"),
        )
        .orderBy("source")
    )


DISTINCT_KMV_SQL = f"""
WITH toks AS (
  SELECT DISTINCT d.source, t.tok
  FROM ({_DOC_TOKENS_SQL}) t JOIN documents d USING (doc_id)
),
hashed AS (
  SELECT source,
         list_reduce(
           list_transform(range(1, 14),
             i -> strpos('0123456789abcdef',
                         substr(md5(tok), i, 1)) - 1),
           (acc, x) -> acc * 16 + x)::DOUBLE / {float(16**13)} AS frac
  FROM toks
),
kth AS (
  SELECT source, frac AS kth FROM (
    SELECT source, frac,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY frac) AS rn
    FROM hashed
  ) WHERE rn = 16
),
exact AS (
  SELECT source, COUNT(*)::BIGINT AS exact_distinct
  FROM hashed GROUP BY source
)
SELECT e.source, e.exact_distinct,
       ROUND(15 / k.kth, 2) AS kmv_estimate,
       ROUND(ABS(15 / k.kth - e.exact_distinct) / e.exact_distinct, 4)
         AS rel_err
FROM exact e JOIN kth k USING (source)
ORDER BY e.source
"""


def doc_kcore_members(spark: SparkSession, sf: str) -> DataFrame:
    """3-round 2-core peeling (operators.graph.kcore_prune) of the
    near-dup similarity graph: iteratively drop degree-<2 nodes, emit
    survivors with residual degree — the dense-core pruning a KG runs
    before canonicalization. The oracle unrolls the three peel rounds
    in SQL."""
    from clip_retrieval_spark.operators.graph import kcore_prune

    edges = _near_dup_edges(spark, sf)
    return (
        kcore_prune(edges, k=2, rounds=3)
        .select(F.col("node").alias("doc_id"), "deg")
        .orderBy("doc_id")
    )


def _kcore_round(prev: str, out: str) -> str:
    return f"""
d{out} AS (SELECT src, COUNT(*) AS deg FROM {prev} GROUP BY src),
k{out} AS (SELECT src FROM d{out} WHERE deg >= 2),
{out} AS (
  SELECT e.src, e.dst FROM {prev} e
  JOIN k{out} a ON e.src = a.src
  JOIN k{out} b ON e.dst = b.src
)"""


DOC_KCORE_SQL = f"""
WITH pairs AS (SELECT a, b FROM ({DEDUP_JACCARD_SQL}) j
               WHERE jaccard >= 0.8),
e0 AS (SELECT a AS src, b AS dst FROM pairs
       UNION SELECT b, a FROM pairs),
{_kcore_round('e0', 'e1')},
{_kcore_round('e1', 'e2')},
{_kcore_round('e2', 'e3')}
SELECT src AS doc_id, COUNT(*)::BIGINT AS deg
FROM e3 GROUP BY src ORDER BY doc_id
"""


def incremental_dedup_batches(spark: SparkSession, sf: str) -> DataFrame:
    """Two-batch incremental ingestion replay of
    operators.dedup.incremental_dedup: batch 1 = even doc_ids,
    batch 2 = odd doc_ids arriving later. The content key is the
    first-8-token prefix (the corpus has no full-text exact dups, but
    prefixes collide — chunk_dedup_ratio's chunk 1), so both the
    in-batch keeper election AND the cross-batch ledger drop really
    fire. Output: every kept row as (doc_id, batch).

    The oracle replays the same semantics content-wise (key equality
    instead of the operator's xxhash64 ledger key — identical results
    absent a 64-bit collision, which the synthetic corpus cannot
    produce)."""
    from clip_retrieval_spark.operators.dedup import incremental_dedup

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat_ws(" ", F.slice(_toks(), 1, 8)).alias("k8"),
    )
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    kept1, ledger = incremental_dedup(b1, None, ["k8"], "doc_id")
    kept2, _ = incremental_dedup(b2, ledger, ["k8"], "doc_id")
    return (
        kept1.select("doc_id", F.lit(1).alias("batch"))
        .unionByName(kept2.select("doc_id", F.lit(2).alias("batch")))
        .orderBy("doc_id")
    )


INCREMENTAL_DEDUP_SQL = """
WITH keyed AS (
  SELECT doc_id,
         array_to_string(
           list_filter(string_split(text, ' '), x -> x <> '')[1:8],
           ' ') AS k8
  FROM documents
),
b1 AS (SELECT doc_id, k8 FROM keyed WHERE doc_id % 2 = 0),
b2 AS (SELECT doc_id, k8 FROM keyed WHERE doc_id % 2 = 1),
k1 AS (
  SELECT MIN(doc_id) AS doc_id, 1 AS batch FROM b1 GROUP BY k8
),
k2 AS (
  SELECT MIN(b2.doc_id) AS doc_id, 2 AS batch FROM b2
  WHERE NOT EXISTS (SELECT 1 FROM b1 WHERE b1.k8 = b2.k8)
  GROUP BY b2.k8
)
SELECT doc_id, batch FROM k1
UNION ALL SELECT doc_id, batch FROM k2
ORDER BY doc_id
"""


def docs_rollup_source_lang(spark: SparkSession, sf: str) -> DataFrame:
    """GROUP BY ROLLUP(source, lang): per-(source,lang), per-source,
    and grand-total doc counts + char sums in ONE aggregation pass —
    the OLAP subtotal operator (Spark plans it as a single Expand +
    hash aggregate, not three scans). NULL grouping cells are filled
    with 'ALL' so the hash compare is unambiguous."""
    docs = _t(spark, sf, "documents")
    return (
        docs.rollup("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
        .select(
            F.coalesce("source", F.lit("ALL")).alias("source"),
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            "n_docs",
            "chars",
        )
        .orderBy("source", "lang")
    )


DOCS_ROLLUP_SQL = """
SELECT COALESCE(source, 'ALL') AS source,
       COALESCE(lang, 'ALL') AS lang,
       COUNT(*)::BIGINT AS n_docs,
       SUM(n_chars)::BIGINT AS chars
FROM documents
GROUP BY ROLLUP(source, lang)
ORDER BY source, lang
"""


def events_pivot_types(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot the event stream: one row per user, one count column per
    event type (fixed column set — the reshape analytics dashboards
    ask for). Spark's pivot with an EXPLICIT value list stays a single
    hash aggregate (no extra distinct-values job); the oracle is the
    equivalent conditional aggregation."""
    ev = _t(spark, sf, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count("event_id"))
        .na.fill(0, types)
        .select(
            "user_id",
            *[F.col(t).cast("long").alias(f"n_{t}") for t in types],
        )
        .orderBy("user_id")
    )


EVENTS_PIVOT_SQL = """
SELECT user_id,
       SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
         AS n_click,
       SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
         AS n_error,
       SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
         AS n_purchase,
       SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT
         AS n_signup,
       SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT
         AS n_view
FROM events GROUP BY user_id ORDER BY user_id
"""


def events_moving_avg(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user 1-hour trailing moving average of event values — the
    RANGE-frame window class (frame bounded by event-TIME distance,
    not row count): avg over [ts - 1h, ts]. One (user_id)-keyed
    shuffle; ties inside the frame don't affect the set-valued frame
    so both engines agree exactly on the 4-decimal round."""
    ev = _t(spark, sf, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    w = (
        Window.partitionBy("user_id")
        # NTZ -> epoch seconds (frame math uses DIFFERENCES, so the
        # session-tz offset of the double cast cancels)
        .orderBy(F.col("ts").cast("timestamp").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return (
        ev.withColumn("ma_1h", F.round(F.avg("value").over(w), 4))
        .select("event_id", "user_id", "ma_1h")
        .orderBy("event_id")
    )


EVENTS_MOVING_AVG_SQL = """
SELECT event_id, user_id,
       ROUND(AVG(value) OVER (
         PARTITION BY user_id ORDER BY ts
         RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
       ), 4) AS ma_1h
FROM events ORDER BY event_id
"""


def topk_tokens_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source top-5 most frequent tokens (exact heavy hitters) —
    the corpus-profiling pass that feeds stopword lists and boilerplate
    detectors. Exact counts here (algebraic agg + per-group window
    top-k with WindowGroupLimit pruning); at 10^12 tokens the same
    call site swaps the exact count for a count-min / space-saving
    sketch — mergeable, bounded memory — exactness is a small-group
    property, not the contract. Ties break lexicographically so both
    engines emit identical rank sets."""
    toks = _tok_stream(
        _t_spread(spark, sf, "documents", "doc_id"), "source"
    )
    counts = toks.groupBy("source", "tok").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("cnt"), F.asc("tok")
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("source", "tok", "cnt", "rnk")
        .orderBy("source", "rnk")
    )


TOPK_TOKENS_SQL = """
WITH toks AS (
  SELECT d.source, t.tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents) t
  JOIN documents d USING (doc_id)
  WHERE t.tok <> ''
),
counts AS (
  SELECT source, tok, COUNT(*)::BIGINT AS cnt
  FROM toks GROUP BY source, tok
),
ranked AS (
  SELECT source, tok, cnt,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY cnt DESC, tok ASC) AS rnk
  FROM counts
)
SELECT source, tok, cnt, rnk FROM ranked
WHERE rnk <= 5 ORDER BY source, rnk
"""


_CMS_DEPTH, _CMS_WIDTH = 4, 256


def topk_tokens_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate heavy hitters via a count-min sketch
    (operators/sketch.py) — the documented 10^12-token swap-in for
    ``topk_tokens_by_source``: sketch state is a fixed 4x256 grid of
    counters (algebraic, map-side combinable, merges cell-wise across
    executors) instead of a shuffle keyed by every distinct token.
    Buckets are md5-hex prefixes seeded by the row index, so DuckDB
    replays the exact sketch state and the gate checks the SKETCH, not
    just the ranking. Output: top-20 tokens by estimated count with
    the exact count alongside (CM never under-counts: est >= exact,
    asserted by tests/test_sketch.py with the 2N/width error bound)."""
    from clip_retrieval_spark.operators.sketch import (
        count_min_estimate,
        count_min_sketch,
    )

    counts = (
        _tok_stream(_t(spark, sf, "documents"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    sketch = count_min_sketch(
        counts, "tok", "cnt", depth=_CMS_DEPTH, width=_CMS_WIDTH
    )
    est = count_min_estimate(
        sketch, counts, "tok", depth=_CMS_DEPTH, width=_CMS_WIDTH
    )
    w = Window.orderBy(F.desc("est_cnt"), F.asc("tok"))
    return (
        est.join(counts, "tok")
        .select(
            "tok",
            F.col("est").cast("long").alias("est_cnt"),
            F.col("cnt").alias("exact_cnt"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 20)
        .orderBy("rnk")
    )


TOPK_TOKENS_SKETCH_SQL = f"""
WITH counts AS (
  SELECT tok, COUNT(*)::BIGINT AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> '' GROUP BY tok
),
expanded AS (
  SELECT c.tok, c.cnt, r.r,
         list_reduce(
           list_transform(range(1, 3),
             i -> strpos('0123456789abcdef',
                         substr(md5(c.tok || ':' || r.r), i, 1)) - 1),
           (a, x) -> a * 16 + x) AS bucket
  FROM counts c
  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) r
),
cms AS (
  SELECT r, bucket, SUM(cnt)::BIGINT AS total
  FROM expanded GROUP BY r, bucket
),
est AS (
  SELECT e.tok, MIN(s.total)::BIGINT AS est_cnt
  FROM expanded e JOIN cms s ON e.r = s.r AND e.bucket = s.bucket
  GROUP BY e.tok
),
ranked AS (
  SELECT c.tok, est_cnt, c.cnt AS exact_cnt,
         ROW_NUMBER() OVER (ORDER BY est_cnt DESC, c.tok ASC) AS rnk
  FROM est JOIN counts c USING (tok)
)
SELECT tok, est_cnt, exact_cnt, rnk FROM ranked
WHERE rnk <= 20 ORDER BY rnk
"""


# ---------------------------------------------------------------------------
# round 5: KG export / motif / BFS, HLL sketch, ER blocking
# ---------------------------------------------------------------------------

def kg_ntriples_export(spark: SparkSession, sf: str) -> DataFrame:
    """RDF N-Triples export of the canonical KG edge table — the
    interchange artifact a KG-construction pipeline actually ships
    (stage 4's analog of the reference packaging its index + metadata
    for clip_back to serve, clip_back.py:539-566). Serialization is
    operators.materialize.to_ntriples: narrow JVM string concats with
    RDF 1.1 IRIREF percent-escaping (escaping behavior is unit-tested
    on hostile surfaces in tests/test_materialize.py; the gate
    vocabulary Entity0..39 passes through unescaped, which is why the
    closed-form oracle can skip the replace chain). Map-only stage at
    scale — no shuffle, no UDF."""
    from clip_retrieval_spark.operators.materialize import to_ntriples

    edges = kg_nodes_edges(spark, sf)
    return to_ntriples(edges).orderBy("url", "ntriple")


KG_NTRIPLES_SQL = """
SELECT 'https://' || source || '.example.com/doc-' || doc_id AS url,
       '<http://kg.example/e/Entity' || (doc_id % 40)
       || '> <http://kg.example/p/acquired> <http://kg.example/e/Entity'
       || ((doc_id * 7) % 40) || '> .' AS ntriple
FROM documents ORDER BY url, ntriple
"""


def kg_twohop_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Two-hop motif query over the canonical edge table: for every
    entity pair reachable as a -> b -> c, the number of distinct
    2-hop paths, computed as the product of edge MULTIPLICITIES — the
    relation-path query a downstream KG consumer runs first.

    Scale shape: the self-join runs on the AGGREGATED edge table
    (entity-pair counts), never on raw edges — path counting via
    multiplicity products means the join input is bounded by the
    number of distinct entity pairs, not the 10^12 raw triples, and no
    path triple is ever materialized per raw-edge combination. The
    join keys on the middle entity b; hub entities are the classic
    skew key there, split at runtime by AQE skew-join (the engine
    enables AQE session-wide, session.py). The edge table is eagerly
    checkpointed first so the two join branches don't each re-derive
    the stage-1..4 DAG (the _kg_stage_tables rationale)."""
    edges = kg_nodes_edges(spark, sf).localCheckpoint(eager=True)
    ec = edges.groupBy(
        F.col("subj_surface").alias("a"),
        F.col("obj_surface").alias("b"),
    ).agg(F.count("*").alias("cnt"))
    e1 = ec.select("a", "b", F.col("cnt").alias("c1"))
    e2 = ec.select(
        F.col("a").alias("b"),
        F.col("b").alias("c"),
        F.col("cnt").alias("c2"),
    )
    return (
        e1.join(e2, "b")
        .select(
            "a",
            "b",
            "c",
            (F.col("c1") * F.col("c2")).cast("long").alias("n_paths"),
        )
        .orderBy("a", "b", "c")
    )


KG_TWOHOP_SQL = """
WITH e AS (
  SELECT 'Entity' || (doc_id % 40)       AS a,
         'Entity' || ((doc_id * 7) % 40) AS b
  FROM documents
),
ec AS (SELECT a, b, COUNT(*)::BIGINT AS cnt FROM e GROUP BY a, b)
SELECT e1.a AS a, e1.b AS b, e2.b AS c,
       (e1.cnt * e2.cnt)::BIGINT AS n_paths
FROM ec e1 JOIN ec e2 ON e1.b = e2.a
ORDER BY a, b, c
"""


def doc_bfs_distances(spark: SparkSession, sf: str) -> DataFrame:
    """3-round multi-source BFS over the token-Jaccard similarity
    graph (the dedup_jaccard_pairs edge set): hop distance from the 3
    smallest doc ids present in the graph — the neighborhood-expansion
    primitive behind contamination spread analysis ("every document
    within k similarity hops of a benchmark doc") and graph-distance
    features. operators.graph.bfs_distances does frontier-only
    expansion (per round: one keyed join whose left side is just the
    newly-reached nodes + one algebraic min-agg); the oracle unrolls
    the 3 rounds expanding the full reached set, which computes the
    identical min-distance fixpoint (settled nodes only produce
    dominated distances)."""
    from clip_retrieval_spark.operators.graph import bfs_distances

    edges = (
        dedup_jaccard_pairs(spark, sf)
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .localCheckpoint(eager=True)
    )
    seeds = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select("dst"))
        .distinct()
        .orderBy("node")
        .limit(3)
    )
    return (
        bfs_distances(edges, seeds, rounds=3)
        .select(F.col("node").alias("doc_id"), "dist")
        .orderBy("doc_id")
    )


DOC_BFS_SQL = f"""
WITH pairs AS (SELECT a, b FROM ({DEDUP_JACCARD_SQL}) j),
und AS (SELECT a AS src, b AS dst FROM pairs
        UNION SELECT b, a FROM pairs),
seeds AS (SELECT DISTINCT src AS node FROM und ORDER BY node LIMIT 3),
r1 AS (SELECT DISTINCT e.dst AS node
       FROM und e JOIN seeds s ON e.src = s.node),
r2 AS (SELECT DISTINCT e.dst AS node
       FROM und e JOIN r1 s ON e.src = s.node),
r3 AS (SELECT DISTINCT e.dst AS node
       FROM und e JOIN r2 s ON e.src = s.node),
alld AS (
  SELECT node, 0 AS dist FROM seeds
  UNION ALL SELECT node, 1 FROM r1
  UNION ALL SELECT node, 2 FROM r2
  UNION ALL SELECT node, 3 FROM r3
)
SELECT node AS doc_id, MIN(dist)::INT AS dist
FROM alld GROUP BY node ORDER BY doc_id
"""


def hll_distinct_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog cardinality sketch per source (m=32 registers,
    Flajolet et al. 2007), cross-checked against the exact distinct
    token count — the production-default mergeable cardinality sketch,
    complementing the KMV gate (distinct_sketch_kmv) with the
    register-max formulation that merges by element-wise MAX and costs
    O(m) state per group at any scale.

    Exactly SQL-replayable by construction: the md5-derived 52-bit
    hash (the KMV gate's trick) splits into a 5-bit register index and
    a 47-bit suffix w; rank = leading-zeros(w)+1 is computed as
    48 - bitlength(w) where bitlength is a SUM of 47 exact integer
    comparisons against powers of two — no float log2, so register
    ranks are bit-identical across engines. The per-source sum of
    2^-maxrank adds 32 exact dyadic rationals spanning < 53 bits of
    exponent, so the double sum is associativity-independent — Spark's
    partial-agg order cannot diverge from DuckDB's. At scale the
    register table is an algebraic max-agg (map-side combinable); the
    exact count rides along only to report realized error (HLL std
    error at m=32 is ~18.5%; the raw estimator is used, bias/linear-
    counting corrections documented as the production swap-in)."""
    toks = (
        _doc_tokens_src(spark, sf)
        .select("source", "tok")
        .distinct()
    )
    h = F.conv(F.substring(F.md5("tok"), 1, 13), 16, 10).cast("long")
    hashed = toks.select(
        "source", (h % 32).alias("reg"), F.floor(h / 32).alias("w")
    )
    bitlen = sum(
        F.when(F.col("w") >= F.lit(1 << k), 1).otherwise(0)
        for k in range(47)
    )
    ranked = hashed.select("source", "reg", (48 - bitlen).alias("rank"))
    regs = ranked.groupBy("source", "reg").agg(F.max("rank").alias("mr"))
    per_src = regs.groupBy("source").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("mr"))).alias("ssum"),
        F.count("*").alias("nregs"),
    )
    exact = hashed.groupBy("source").agg(
        F.count("*").alias("exact_distinct")
    )
    est = F.lit(0.697 * 32 * 32) / (
        F.col("ssum") + (F.lit(32) - F.col("nregs"))
    )
    return (
        exact.join(per_src, "source")
        .select(
            "source",
            "exact_distinct",
            F.round(est, 2).alias("hll_estimate"),
            F.round(
                F.abs(est - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                4,
            ).alias("rel_err"),
        )
        .orderBy("source")
    )


HLL_SKETCH_SQL = f"""
WITH toks AS (
  SELECT DISTINCT d.source, t.tok
  FROM ({_DOC_TOKENS_SQL}) t JOIN documents d USING (doc_id)
),
hashed AS (
  SELECT source,
         list_reduce(
           list_transform(range(1, 14),
             i -> strpos('0123456789abcdef',
                         substr(md5(tok), i, 1)) - 1),
           (acc, x) -> acc * 16 + x) AS h
  FROM toks
),
split AS (SELECT source, h % 32 AS reg, h // 32 AS w FROM hashed),
ranked AS (
  SELECT source, reg,
         48 - list_sum(list_transform(range(0, 47),
           k -> CASE WHEN w >= (1::BIGINT << k) THEN 1 ELSE 0 END))
           AS rank
  FROM split
),
regs AS (SELECT source, reg, MAX(rank) AS mr
         FROM ranked GROUP BY source, reg),
per_src AS (
  SELECT source, SUM(POWER(2.0, -mr)) AS ssum, COUNT(*) AS nregs
  FROM regs GROUP BY source
),
exact AS (
  SELECT source, COUNT(*)::BIGINT AS exact_distinct
  FROM hashed GROUP BY source
)
SELECT e.source, e.exact_distinct,
       ROUND({0.697 * 32 * 32} / (p.ssum + (32 - p.nregs)), 2)
         AS hll_estimate,
       ROUND(ABS({0.697 * 32 * 32} / (p.ssum + (32 - p.nregs))
                 - e.exact_distinct) / e.exact_distinct, 4) AS rel_err
FROM exact e JOIN per_src p USING (source)
ORDER BY source
"""


def blocking_key_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Entity-resolution blocking via a phonetic-style consonant
    skeleton (first char + vowel-stripped remainder, the classic
    cheap blocking key family alongside MinHash blocking,
    operators/lsh.py): the block-size profile over the distinct token
    vocabulary — top-20 blocks by member count with each block's
    candidate-pair budget n*(n-1)/2, the number an ER pipeline
    inspects FIRST because oversized blocks are the quadratic blowup
    blocking exists to prevent (the same cap rationale as
    lsh.candidate_pairs' bucket cap).

    Scale shape: one hash-agg over the vocabulary (map-side
    combinable), then an exact top-20 via ranked-window pruning
    (WindowGroupLimit — the heavy-hitters gate's plan). Pure JVM
    string fns for the key; no UDF."""
    toks = _doc_tokens(spark, sf).select("tok").distinct()
    key = F.concat(
        F.substring(F.lower("tok"), 1, 1),
        F.regexp_replace(
            F.expr("substring(lower(tok), 2)"), "[aeiou]", ""
        ),
    )
    blocks = (
        toks.select(key.alias("block_key"))
        .groupBy("block_key")
        .agg(F.count("*").alias("n_terms"))
    )
    w = Window.orderBy(F.desc("n_terms"), F.asc("block_key"))
    return (
        blocks.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 20)
        .select(
            "block_key",
            "n_terms",
            F.expr(
                "CAST(n_terms * (n_terms - 1) DIV 2 AS BIGINT)"
            ).alias("cand_pairs"),
            "rnk",
        )
        .orderBy("rnk")
    )


BLOCKING_KEYS_SQL = f"""
WITH toks AS (SELECT DISTINCT tok FROM ({_DOC_TOKENS_SQL})),
keys AS (
  SELECT substr(lower(tok), 1, 1) ||
         regexp_replace(substr(lower(tok), 2), '[aeiou]', '', 'g')
           AS block_key
  FROM toks
),
blocks AS (
  SELECT block_key, COUNT(*)::BIGINT AS n_terms
  FROM keys GROUP BY block_key
),
ranked AS (
  SELECT block_key, n_terms,
         ROW_NUMBER() OVER (ORDER BY n_terms DESC, block_key)
           AS rnk
  FROM blocks
)
SELECT block_key, n_terms,
       (n_terms * (n_terms - 1) // 2)::BIGINT AS cand_pairs,
       rnk::BIGINT AS rnk
FROM ranked WHERE rnk <= 20 ORDER BY rnk
"""


def sample_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis A-Res): per source, the 5 documents drawn with probability
    proportional to length (n_chars) — the quality-weighted data-
    selection primitive (sample training docs ∝ a quality score). Each
    doc gets key = ln(u)/w with u = md5-hash fraction (the KMV gate's
    52-bit trick) and w = n_chars; the top-5 keys per source ARE the
    weighted sample. Hash-based, not RNG-based, so the sample is
    reproducible across runs, engines, partitionings, and retries —
    and exactly SQL-replayable (both engines compute ln of identical
    doubles; ranks tie-break by doc_id).

    Scale shape: a narrow per-row key + the heavy-hitters gate's
    ranked-window prune (WindowGroupLimit) — one keyed shuffle, no
    sort of the full corpus."""
    docs = _t(spark, sf, "documents").select(
        "doc_id", "source", "n_chars"
    )
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13),
            16,
            10,
        ).cast("double")
        / F.lit(float(16**13))
    )
    keyed = docs.withColumn("_key", F.log(u) / F.col("n_chars"))
    w = Window.partitionBy("source").orderBy(
        F.desc("_key"), F.asc("doc_id")
    )
    return (
        keyed.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("source", "rnk", "doc_id", "n_chars")
        .orderBy("source", "rnk")
    )


SAMPLE_WEIGHTED_SQL = f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         ln(list_reduce(
              list_transform(range(1, 14),
                i -> strpos('0123456789abcdef',
                            substr(md5(doc_id::VARCHAR), i, 1)) - 1),
              (acc, x) -> acc * 16 + x)::DOUBLE / {float(16**13)})
           / n_chars AS _key
  FROM documents
),
ranked AS (
  SELECT source, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY _key DESC, doc_id) AS rnk
  FROM keyed
)
SELECT source, rnk::BIGINT AS rnk, doc_id, n_chars
FROM ranked WHERE rnk <= 5 ORDER BY source, rnk
"""


def events_value_deciles(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-depth (decile) binning of the events value stream per
    event type — the feature-binning / histogram primitive (quantile
    bucketing for model features, drift monitors). ntile(10) over a
    TOTAL order (value, then event_id) so bucket boundaries are
    deterministic and exactly SQL-replayable; per decile: row count
    and the value range it spans.

    Scale shape: one keyed shuffle on event_type; within a partition
    ntile is a single sort-based window pass, and the per-decile agg
    is algebraic. For quantiles over a SINGLE giant group, the exact
    grouped-quantiles gate (quality_percentiles) documents the
    distributed-sort path."""
    ev = _t(spark, sf, "events").select(
        "event_id", "event_type", "value"
    )
    w = Window.partitionBy("event_type").orderBy(
        F.asc("value"), F.asc("event_id")
    )
    return (
        ev.withColumn("decile", F.ntile(10).over(w))
        .groupBy("event_type", "decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
        .orderBy("event_type", "decile")
    )


EVENTS_DECILES_SQL = """
WITH binned AS (
  SELECT event_type, value,
         NTILE(10) OVER (PARTITION BY event_type
                         ORDER BY value, event_id) AS decile
  FROM events
)
SELECT event_type, decile::BIGINT AS decile, COUNT(*)::BIGINT AS n,
       ROUND(MIN(value), 2) AS lo, ROUND(MAX(value), 2) AS hi
FROM binned GROUP BY event_type, decile
ORDER BY event_type, decile
"""


# ---------------------------------------------------------------------------
# r5 wave 2: containment dedup, clustering evaluation, in-place chunk
# strip, corpus entropy profiling
# ---------------------------------------------------------------------------

_CONTAINMENT_T = 0.8


def dedup_containment_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Token-set CONTAINMENT similarity join: C(A,B) = |A∩B| /
    min(|A|,|B|) >= 0.8, same source + df-cap blocking as
    dedup_jaccard_pairs.

    Why a separate signal: Jaccard misses subset duplication — a short
    doc fully quoted inside a long one scores |A|/(|B|) Jaccard
    (arbitrarily low) but containment 1.0. Web pipelines use
    containment to catch boilerplate inclusion and quote-reuse that
    symmetric overlap measures dilute (the reference dedups only by
    whole-embedding distance, clip_back.py:257-268; sub-document
    containment is the text-native generalization).

    Scale shape: the Jaccard join's (``_capped_overlap``)."""
    return (
        _capped_overlap(spark, sf)
        .withColumn(
            "containment",
            F.round(F.col("c") / F.least("sza", "szb"), 4),
        )
        .filter(F.col("containment") >= _CONTAINMENT_T)
        .select("a", "b", "containment")
        .orderBy("a", "b")
    )


DEDUP_CONTAINMENT_SQL = """
WITH all_toks AS (
  SELECT t.doc_id, t.tok, d.source
  FROM ({toks}) t JOIN documents d USING (doc_id)
),
toks AS (
  SELECT doc_id, tok, source FROM (
    SELECT doc_id, tok, source,
           COUNT(*) OVER (PARTITION BY source, tok) AS _df
    FROM all_toks
  ) WHERE _df <= __DF_CAP__
),
sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS sz FROM toks GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*)::BIGINT AS c
  FROM toks a JOIN toks b ON a.source = b.source AND a.tok = b.tok
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a, b, ROUND(c / LEAST(sa.sz, sb.sz), 4) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
WHERE ROUND(c / LEAST(sa.sz, sb.sz), 4) >= __CONT_T__
ORDER BY a, b
""".format(toks=_DOC_TOKENS_SQL).replace(
    "__DF_CAP__", str(_JACCARD_DF_CAP)
).replace("__CONT_T__", str(_CONTAINMENT_T))


def cluster_agreement_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise precision/recall/F1 of a predicted clustering against a
    gold clustering WITHOUT materializing any pair: predicted = SimHash
    fingerprint equality (dedup_simhash), gold = exact content hash
    (dedup_exact's key). This is the standard entity-resolution /
    canonicalization quality metric (pair-counting family), computed by
    contingency-cell choose-2 algebra:

        tp    = sum over (pred,gold) cells of C(n_cell, 2)
        pred  = sum over pred clusters of C(n, 2)
        gold  = sum over gold clusters of C(n, 2)

    Scale shape: three algebraic aggregations over (pred, gold) label
    pairs — never an explicit pair join, so a 10^9-doc clustering with
    million-row clusters costs the same as a uniform one (C(n,2) is
    computed from counts, not enumerated). The three one-row results
    meet in broadcast cross-joins."""
    sim = dedup_simhash(spark, sf)  # (doc_id, simhash) = predicted label
    gold = _t(spark, sf, "documents").select(
        "doc_id", F.md5("text").alias("gold")
    )
    labels = sim.join(gold, "doc_id").select(
        F.col("simhash").alias("pred"), "gold"
    )
    cells = labels.groupBy("pred", "gold").agg(F.count("*").alias("n"))

    def _pairs(col):
        return F.sum((F.col(col) * (F.col(col) - 1) / 2).cast("long"))

    tp = cells.agg(_pairs("n").alias("tp_pairs"))
    pred = (
        cells.groupBy("pred")
        .agg(F.sum("n").alias("n"))
        .agg(_pairs("n").alias("pred_pairs"))
    )
    gld = (
        cells.groupBy("gold")
        .agg(F.sum("n").alias("n"))
        .agg(_pairs("n").alias("gold_pairs"))
    )
    out = tp.crossJoin(F.broadcast(pred)).crossJoin(F.broadcast(gld))
    prec = F.round(
        F.col("tp_pairs") / F.nullif(F.col("pred_pairs"), F.lit(0)), 4
    )
    rec = F.round(
        F.col("tp_pairs") / F.nullif(F.col("gold_pairs"), F.lit(0)), 4
    )
    return out.select(
        "tp_pairs",
        "pred_pairs",
        "gold_pairs",
        prec.alias("precision"),
        rec.alias("recall"),
        F.round(
            2.0
            * F.col("tp_pairs")
            / F.nullif(
                F.col("pred_pairs") + F.col("gold_pairs"), F.lit(0)
            ),
            4,
        ).alias("f1"),
    )


CLUSTER_AGREEMENT_SQL = """
WITH sim AS ({simhash}),
labels AS (
  SELECT s.simhash AS pred, md5(d.text) AS gold
  FROM sim s JOIN documents d USING (doc_id)
),
cells AS (
  SELECT pred, gold, COUNT(*)::BIGINT AS n FROM labels GROUP BY 1, 2
),
tp AS (SELECT SUM(n * (n - 1) // 2)::BIGINT AS tp_pairs FROM cells),
pp AS (
  SELECT SUM(n * (n - 1) // 2)::BIGINT AS pred_pairs
  FROM (SELECT SUM(n) AS n FROM cells GROUP BY pred)
),
gp AS (
  SELECT SUM(n * (n - 1) // 2)::BIGINT AS gold_pairs
  FROM (SELECT SUM(n) AS n FROM cells GROUP BY gold)
)
SELECT tp_pairs, pred_pairs, gold_pairs,
       ROUND(tp_pairs / NULLIF(pred_pairs, 0), 4) AS precision,
       ROUND(tp_pairs / NULLIF(gold_pairs, 0), 4) AS recall,
       ROUND(2.0 * tp_pairs / NULLIF(pred_pairs + gold_pairs, 0), 4) AS f1
FROM tp, pp, gp
""".format(simhash=DEDUP_SIMHASH_SQL)


def chunk_strip_docs(spark: SparkSession, sf: str) -> DataFrame:
    """In-place sub-document dedup (the rewrite counterpart of
    chunk_dedup_ratio): REMOVE every 8-token chunk that appears in >= 2
    distinct documents and reconstruct each document from its kept
    chunks in original order — what CCNet/RefinedWeb-style pipelines do
    to strip shared boilerplate while keeping the page. Trailing
    sub-8-token fragments are outside the chunking (consistent with
    chunk_dedup_ratio's chunk definition).

    Scale shape: one md5-keyed agg for the cross-doc dup set, one join
    back, and per-doc reconstruction as sort_array(collect_list(
    struct(pos, chunk))) — the struct sort makes the rebuild
    order-deterministic under any partitioning; per-doc state is
    bounded by document length, never by corpus size."""
    docs = _t_spread(spark, sf, "documents", "doc_id").select("doc_id", "text")
    toks = _toks()
    n_chunks, idx = _chunk_idx(toks)
    base = docs.select(
        "doc_id", n_chunks.cast("long").alias("n_chunks"), idx.alias("idx"),
        toks.alias("t"),
    )
    chunks = base.select(
        "doc_id",
        F.posexplode(_chunk_arr(F.col("idx"), F.col("t"))).alias(
            "pos", "chunk"
        ),
    ).withColumn("h", F.md5("chunk"))
    dup = (
        chunks.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("_dup"))
    )
    kept = (
        chunks.join(dup, "h", "left")
        .filter(F.col("_dup").isNull())
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "chunk"))
                    ),
                    lambda x: x["chunk"],
                ),
            ).alias("kept_text"),
        )
    )
    return (
        base.select("doc_id", "n_chunks")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
        )
        .orderBy("doc_id")
    )


CHUNK_STRIP_SQL = f"""
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
chunks AS (
  SELECT doc_id, i,
         array_to_string(t[(i-1)*{_CHUNK_W}+1 : i*{_CHUNK_W}], ' ') AS c
  FROM (
    SELECT doc_id, t,
           unnest(range(1, (len(t) // {_CHUNK_W}) + 1)) AS i
    FROM tk
  )
),
dup AS (
  SELECT md5(c) AS h FROM chunks GROUP BY 1
  HAVING COUNT(DISTINCT doc_id) >= 2
),
kept AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_kept,
         string_agg(c, ' ' ORDER BY i) AS kept_text
  FROM chunks WHERE md5(c) NOT IN (SELECT h FROM dup)
  GROUP BY doc_id
)
SELECT tk.doc_id, (len(tk.t) // {_CHUNK_W})::BIGINT AS n_chunks,
       COALESCE(kept.n_kept, 0)::BIGINT AS n_kept,
       COALESCE(kept.kept_text, '') AS kept_text
FROM tk LEFT JOIN kept USING (doc_id)
ORDER BY tk.doc_id
"""


def token_entropy_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source unigram Shannon entropy — the corpus-quality
    diagnostic that flags templated / spammy / low-diversity sources
    (low entropy = a few tokens dominate; used alongside perplexity in
    LLM-data curation).

        H = log2(N) - (sum_t c_t * log2(c_t)) / N

    computed from per-(source, token) counts only — the identity keeps
    everything a single algebraic aggregation pass (map-side
    combinable), with no per-token probability join. Output also
    carries N, vocabulary size, and the max token share (a head-token
    dominance check).

    Scale shape: two chained hash aggs keyed (source, tok) then
    (source); hub tokens fold map-side before the shuffle, so head-token
    skew never concentrates rows."""
    docs = _t(spark, sf, "documents").select("source", "text")
    toks = _tok_stream(docs, "source")
    cnt = toks.groupBy("source", "tok").agg(
        F.count("*").cast("double").alias("c")
    )
    return (
        cnt.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("vocab"),
            F.sum(F.col("c") * F.log2("c")).alias("_clogc"),
            F.max("c").alias("_maxc"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab",
            F.round(
                F.log2(F.col("n_tokens").cast("double"))
                - F.col("_clogc") / F.col("n_tokens"),
                4,
            ).alias("entropy_bits"),
            F.round(F.col("_maxc") / F.col("n_tokens"), 4).alias(
                "max_token_share"
            ),
        )
        .orderBy("source")
    )


TOKEN_ENTROPY_SQL = """
WITH cnt AS (
  SELECT source, tok, COUNT(*)::DOUBLE AS c
  FROM (
    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
  )
  WHERE tok <> ''
  GROUP BY source, tok
)
SELECT source,
       SUM(c)::BIGINT AS n_tokens,
       COUNT(*)::BIGINT AS vocab,
       ROUND(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 4) AS entropy_bits,
       ROUND(MAX(c) / SUM(c), 4) AS max_token_share
FROM cnt GROUP BY source ORDER BY source
"""


def source_overlap_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources,
    how many distinct 8-token chunks they share — the dump-to-dump /
    snapshot-to-snapshot overlap analysis run before mixing crawl
    corpora (a chunk shared across sources is syndicated or boilerplate
    content that would double-count in training).

    Scale shape: the join key is the chunk hash over the DISTINCT
    (source, chunk) surface, so per-key fanout is bounded by the number
    of sources (a constant ~10s-100s), never by chunk popularity inside
    a source; pair counts are algebraic."""
    docs = _t_spread(spark, sf, "documents", "doc_id").select("doc_id", "source", "text")
    toks = _toks()
    _, idx = _chunk_idx(toks)
    sc = (
        docs.select(
            "source", F.explode(_chunk_arr(idx, toks)).alias("chunk")
        )
        .select("source", F.md5("chunk").alias("h"))
        .distinct()
    )
    a = sc.select(F.col("source").alias("source_a"), "h")
    b = sc.select(F.col("source").alias("source_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("shared_chunks"))
        .orderBy("source_a", "source_b")
    )


SOURCE_OVERLAP_SQL = f"""
WITH tk AS (
  SELECT source,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
sc AS (
  SELECT DISTINCT source, md5(c) AS h
  FROM (
    SELECT source,
           unnest([array_to_string(t[(i-1)*{_CHUNK_W}+1 : i*{_CHUNK_W}], ' ')
                   FOR i IN range(1, (len(t) // {_CHUNK_W}) + 1)]) AS c
    FROM tk
  )
)
SELECT a.source AS source_a, b.source AS source_b,
       COUNT(*)::BIGINT AS shared_chunks
FROM sc a JOIN sc b ON a.h = b.h AND a.source < b.source
GROUP BY 1, 2 ORDER BY 1, 2
"""

_PMI_MIN_COUNT = 5
_PMI_TOPK = 20


def pmi_bigrams_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Collocation mining: top-20 adjacent-token bigrams by pointwise
    mutual information over the bigram distribution,

        PMI(x, y) = log2( c(x,y) * N / (c(x,*) * c(*,y)) )

    with a min-count floor (PMI is noise without one). The classic
    corpus-analysis signal for multiword expressions; in curation it
    flags templated word pairs.

    Scale shape: every input to PMI is an algebraic count off the one
    exploded bigram table — marginals are keyed re-aggregations that
    co-partition with their join; N is a broadcast scalar; the final
    top-20 is a TakeOrderedAndProject, never a full sort. Ordering is
    on the ROUNDED pmi (then words) so rank 20 cannot flip on a ulp."""
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    tk = docs.select(_toks(F.lower("text")).alias("t")).filter(
        F.size("t") >= 2
    )
    bg = tk.select(F.explode(_bigram_arr()).alias("bg")).select(
        "bg.w1", "bg.w2"
    )
    c_xy = bg.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    c_x = c_xy.groupBy("w1").agg(F.sum("c").alias("cx"))
    c_y = c_xy.groupBy("w2").agg(F.sum("c").alias("cy"))
    n = c_xy.agg(F.sum("c").cast("double").alias("n"))
    scored = (
        c_xy.filter(F.col("c") >= _PMI_MIN_COUNT)
        .join(c_x, "w1")
        .join(c_y, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            F.col("c").cast("long").alias("c"),
            F.round(
                F.log2(F.col("c") * F.col("n") / (F.col("cx") * F.col("cy"))),
                4,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.desc("pmi"), F.asc("w1"), F.asc("w2")
    ).limit(_PMI_TOPK)


PMI_BIGRAMS_SQL = f"""
WITH tk AS (
  SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
),
bg AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM tk WHERE len(t) >= 2)
),
c_xy AS (SELECT w1, w2, COUNT(*)::BIGINT AS c FROM bg GROUP BY 1, 2),
c_x AS (SELECT w1, SUM(c) AS cx FROM c_xy GROUP BY 1),
c_y AS (SELECT w2, SUM(c) AS cy FROM c_xy GROUP BY 1),
n AS (SELECT SUM(c)::DOUBLE AS n FROM c_xy)
SELECT w1, w2, c,
       ROUND(log2(c * n.n / (cx * cy)), 4) AS pmi
FROM c_xy JOIN c_x USING (w1) JOIN c_y USING (w2) CROSS JOIN n
WHERE c >= {_PMI_MIN_COUNT}
ORDER BY pmi DESC, w1, w2 LIMIT {_PMI_TOPK}
"""

_EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z, the events epoch


def events_trend_slopes(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type linear trend of value over time (ordinary least
    squares via the built-in regr_* aggregates) — the monitoring
    primitive behind drift dashboards: is this metric rising, and how
    fast per day?

    x is DAYS since the corpus epoch (a deterministic constant shift),
    keeping x^2 sums well inside double precision — raw epoch seconds
    squared would eat the mantissa and make the slope numerically
    unstable.

    Scale shape: regr_slope/intercept/r2 are algebraic (sums of x, y,
    xy, x^2 — map-side combinable), so the whole gate is one hash
    aggregation keyed by event_type."""
    ev = _t(spark, sf, "events").select("event_type", "ts", "value")
    x = (F.unix_timestamp("ts") - F.lit(_EPOCH_2024)) / F.lit(86400.0)
    return (
        ev.select("event_type", x.alias("x"), F.col("value").alias("y"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.regr_slope("y", "x"), 4).alias("slope_per_day"),
            F.round(F.regr_intercept("y", "x"), 4).alias("intercept"),
            F.round(F.regr_r2("y", "x"), 4).alias("r2"),
        )
        .orderBy("event_type")
    )


EVENTS_TREND_SQL = f"""
SELECT event_type, COUNT(*)::BIGINT AS n,
       ROUND(regr_slope(value, x), 4) AS slope_per_day,
       ROUND(regr_intercept(value, x), 4) AS intercept,
       ROUND(regr_r2(value, x), 4) AS r2
FROM (
  SELECT event_type, value,
         (epoch(ts) - {_EPOCH_2024}) / 86400.0 AS x
  FROM events
)
GROUP BY event_type ORDER BY event_type
"""

_CORR_DIMS = 8


def embedding_dim_correlations(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label Pearson correlation between the first 8 embedding
    dimensions (28 pairs) — the embedding-health / drift profile:
    a trained-encoder regression (dim collapse, duplicated features)
    shows up as correlation structure shifting between corpus
    snapshots before any retrieval metric moves.

    Scale shape: every corr is an algebraic aggregate (sums, squares,
    cross-products), all 28 computed in ONE hash-agg pass over the
    scan (wide agg + unpivot) — no explode of the vector column, no
    join, no second scan."""
    emb = _t(spark, sf, "embeddings").select("label", "embedding")
    dims = emb.select(
        "label",
        *[
            F.element_at("embedding", i + 1).cast("double").alias(f"d{i}")
            for i in range(_CORR_DIMS)
        ],
    )
    aggs = [
        F.round(F.corr(f"d{i}", f"d{j}"), 4).alias(f"c_{i}_{j}")
        for i in range(_CORR_DIMS)
        for j in range(i + 1, _CORR_DIMS)
    ]
    wide = dims.groupBy("label").agg(*aggs)
    stack_args = ", ".join(
        f"{i}, {j}, c_{i}_{j}"
        for i in range(_CORR_DIMS)
        for j in range(i + 1, _CORR_DIMS)
    )
    n_pairs = _CORR_DIMS * (_CORR_DIMS - 1) // 2
    return (
        wide.select(
            "label",
            F.expr(
                f"stack({n_pairs}, {stack_args}) AS (dim_i, dim_j, corr)"
            ),
        )
        .orderBy("label", "dim_i", "dim_j")
    )


EMB_DIM_CORR_SQL = f"""
WITH dims AS (
  SELECT label, i.i AS dim_i, j.j AS dim_j,
         embedding[i.i + 1]::DOUBLE AS vi, embedding[j.j + 1]::DOUBLE AS vj
  FROM '__SF__/embeddings.parquet',
       (SELECT unnest(range({_CORR_DIMS})) AS i) i,
       (SELECT unnest(range({_CORR_DIMS})) AS j) j
  WHERE i.i < j.j
)
SELECT label, dim_i::INT AS dim_i, dim_j::INT AS dim_j,
       ROUND(corr(vi, vj), 4) AS corr
FROM dims GROUP BY label, dim_i, dim_j
ORDER BY label, dim_i, dim_j
""".replace("__SF__/embeddings.parquet", "embeddings")


def _snapshot_edges(
    spark: SparkSession, sf: str
) -> tuple[DataFrame, DataFrame]:
    """``edge_weights`` of the even- and the odd-``warc_ts`` pages of
    docs_as_pages — two disjoint crawl snapshots of the corpus, each
    through the real fused stage-1/2 pass."""
    from clip_retrieval_spark.operators.materialize import edge_weights
    from clip_retrieval_spark.operators.triples import (
        extract_and_triples_df,
    )

    pages = docs_as_pages(spark, sf)

    def snapshot(parity: int) -> DataFrame:
        return edge_weights(
            extract_and_triples_df(
                pages.filter(F.unix_timestamp("warc_ts") % 2 == parity)
            )
        )

    return snapshot(0), snapshot(1)


def kg_incremental_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental KG maintenance through the REAL pipeline: run
    stages 1-2 on two disjoint page snapshots (even / odd warc_ts —
    two crawls of the corpus), aggregate each snapshot's (subj, obj)
    edge weights independently, and merge them with
    operators.materialize.merge_weighted_edges. The oracle aggregates
    the whole corpus at once — merge(agg(A), agg(B)) == agg(A ∪ B) is
    the algebra the incremental path must preserve exactly, or
    dump-over-dump maintenance silently drifts from a full rebuild.

    Scale shape: each snapshot's aggregation is map-side combinable;
    the merge is one full-outer hash join of two already-aggregated
    edge tables (bucketable by the edge key at cluster scale)."""
    from clip_retrieval_spark.operators.materialize import (
        merge_weighted_edges,
    )

    return merge_weighted_edges(*_snapshot_edges(spark, sf)).orderBy(
        "subj", "obj"
    )


KG_INCREMENTAL_SQL = """
SELECT 'Entity' || (doc_id % 40)       AS subj,
       'Entity' || ((doc_id * 7) % 40) AS obj,
       COUNT(*)::BIGINT AS weight
FROM documents
GROUP BY 1, 2 ORDER BY subj, obj
"""


def kg_triple_provenance(spark: SparkSession, sf: str) -> DataFrame:
    """Provenance rollup per distinct triple: on how many pages was it
    asserted, over what time span, from how many hosts — the lineage
    record the north rule requires per fact (a triple seen on one page
    of one host is a claim; one seen on 10^4 pages across 10^2 hosts
    over two years is consensus). Downstream confidence weighting keys
    off exactly these columns.

    Scale shape: one hash aggregation keyed by the triple; min/max/
    count-distinct are algebraic (the distinct-host count shuffles
    (triple, host) once); host parsing is a JVM split, no UDF."""
    from clip_retrieval_spark.operators.triples import (
        extract_and_triples_df,
    )

    tr = extract_and_triples_df(docs_as_pages(spark, sf))
    host = F.element_at(F.split("url", "/"), 3)
    return (
        tr.select("subj", "pred", "obj", "url", "warc_ts", host.alias("host"))
        .groupBy("subj", "pred", "obj")
        .agg(
            F.count_distinct("url").cast("long").alias("n_pages"),
            F.count_distinct("host").cast("long").alias("n_hosts"),
            F.min("warc_ts").alias("first_seen"),
            F.max("warc_ts").alias("last_seen"),
        )
        .orderBy("subj", "pred", "obj")
    )


KG_PROVENANCE_SQL = """
WITH tr AS (
  SELECT 'Entity' || (doc_id % 40)       AS subj,
         'acquired'                      AS pred,
         'Entity' || ((doc_id * 7) % 40) AS obj,
         'https://' || source || '.example.com/doc-' || doc_id AS url,
         source || '.example.com' AS host,
         to_timestamp(1704067200 + doc_id)::TIMESTAMP AS warc_ts
  FROM documents
)
SELECT subj, pred, obj,
       COUNT(DISTINCT url)::BIGINT AS n_pages,
       COUNT(DISTINCT host)::BIGINT AS n_hosts,
       MIN(warc_ts) AS first_seen,
       MAX(warc_ts) AS last_seen
FROM tr GROUP BY 1, 2, 3 ORDER BY subj, pred, obj
"""


def kg_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Edge-level diff between two KG snapshots (the audit counterpart
    of kg_incremental_merge): which facts a new crawl ADDED, REMOVED,
    re-weighted (CHANGED) or left STABLE — the report a KG curator
    reads before promoting a snapshot to production.

    Both snapshots run the real stage-1/2 pipeline; the diff is one
    full-outer join of the two edge aggregates with a four-way status
    classification — no raw triples cross the join.

    Scale shape: identical to the merge — two map-side-combinable
    aggregations meeting in one full-outer hash join keyed by the
    edge, bucketable at cluster scale."""
    even, odd = _snapshot_edges(spark, sf)
    base = even.withColumnRenamed("weight", "w_base")
    new = odd.withColumnRenamed("weight", "w_new")
    status = (
        F.when(F.col("w_base").isNull(), F.lit("added"))
        .when(F.col("w_new").isNull(), F.lit("removed"))
        .when(F.col("w_base") != F.col("w_new"), F.lit("changed"))
        .otherwise(F.lit("stable"))
    )
    return (
        base.join(new, ["subj", "obj"], "full_outer")
        .select("subj", "obj", "w_base", "w_new", status.alias("status"))
        .orderBy("subj", "obj")
    )


KG_SNAPSHOT_DIFF_SQL = """
WITH base AS (
  SELECT 'Entity' || (doc_id % 40)       AS subj,
         'Entity' || ((doc_id * 7) % 40) AS obj,
         COUNT(*)::BIGINT AS w_base
  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1, 2
),
new AS (
  SELECT 'Entity' || (doc_id % 40)       AS subj,
         'Entity' || ((doc_id * 7) % 40) AS obj,
         COUNT(*)::BIGINT AS w_new
  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1, 2
)
SELECT COALESCE(base.subj, new.subj) AS subj,
       COALESCE(base.obj, new.obj) AS obj,
       w_base, w_new,
       CASE WHEN w_base IS NULL THEN 'added'
            WHEN w_new IS NULL THEN 'removed'
            WHEN w_base <> w_new THEN 'changed'
            ELSE 'stable' END AS status
FROM base FULL OUTER JOIN new
  ON base.subj = new.subj AND base.obj = new.obj
ORDER BY subj, obj
"""

_KWIC_TOKEN = "stream"
_KWIC_W = 2  # context tokens each side


def kwic_concordance(spark: SparkSession, sf: str) -> DataFrame:
    """Keyword-in-context concordance: every occurrence of a query
    token with ±2 tokens of context — the inspection/debug surface
    behind every corpus-curation decision ("show me how this token is
    actually used before I filter on it").

    Scale shape: occurrence positions are found INSIDE the row with
    JVM higher-order functions (filter over a sequence — no explode of
    the token array), so only the matching positions fan out; context
    slicing happens in the same narrow stage and emits plain strings.
    A corpus-frequency hub token costs rows proportional to its true
    occurrence count, never |doc| per document."""
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    base = docs.select("doc_id", _toks().alias("t"))
    poss = F.filter(
        F.sequence(F.lit(1), F.size("t")),
        lambda i: F.element_at("t", i) == F.lit(_KWIC_TOKEN),
    )
    hit = base.select(
        "doc_id", "t", F.explode(poss).alias("pos")
    )
    lo = F.greatest(F.col("pos") - _KWIC_W, F.lit(1))
    hi = F.least(F.col("pos") + _KWIC_W, F.size("t"))
    return (
        hit.select(
            "doc_id",
            F.col("pos").cast("int").alias("pos"),
            F.concat_ws(
                " ", F.slice("t", lo, hi - lo + 1)
            ).alias("context"),
        )
        .orderBy("doc_id", "pos")
    )


KWIC_SQL = f"""
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
hits AS (
  SELECT doc_id, t,
         unnest([i FOR i IN range(1, len(t) + 1)
                 IF t[i] = '{_KWIC_TOKEN}']) AS pos
  FROM tk
)
SELECT doc_id, pos::INT AS pos,
       array_to_string(
         t[greatest(pos - {_KWIC_W}, 1) : least(pos + {_KWIC_W}, len(t))],
         ' ') AS context
FROM hits ORDER BY doc_id, pos
"""

_ZIPF_RANKS = 100


def zipf_fit_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf-law fit per source: OLS slope of log2(freq) against
    log2(rank) over the top-100 token ranks — natural text sits near
    slope -1; templated or keyword-stuffed sources flatten or steepen
    the curve, making this a single-number corpus-authenticity
    diagnostic (complementing entropy, which ignores rank structure).

    Scale shape: token counts are algebraic; the per-source rank window
    prunes to 100 rows per source BEFORE the regression
    (WindowGroupLimit — the full vocabulary is never sorted end-to-end);
    regr_slope/r2 decompose into partial sums. One keyed shuffle, rank
    ties broken (count DESC, token ASC) so both engines rank
    identically."""
    docs = _t(spark, sf, "documents").select("source", "text")
    toks = _tok_stream(docs, "source")
    cnt = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    w = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("tok"))
    ranked = (
        cnt.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _ZIPF_RANKS)
        .select(
            "source",
            F.log2(F.col("r").cast("double")).alias("x"),
            F.log2(F.col("c").cast("double")).alias("y"),
        )
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_ranks"),
            F.round(F.regr_slope("y", "x"), 4).alias("zipf_slope"),
            F.round(F.regr_r2("y", "x"), 4).alias("r2"),
        )
        .orderBy("source")
    )


ZIPF_FIT_SQL = f"""
WITH cnt AS (
  SELECT source, tok, COUNT(*)::BIGINT AS c
  FROM (
    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
  )
  WHERE tok <> ''
  GROUP BY source, tok
),
ranked AS (
  SELECT source,
         log2(ROW_NUMBER() OVER (PARTITION BY source
                                 ORDER BY c DESC, tok)) AS x,
         log2(c) AS y,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY c DESC, tok) AS r
  FROM cnt
)
SELECT source, COUNT(*)::BIGINT AS n_ranks,
       ROUND(regr_slope(y, x), 4) AS zipf_slope,
       ROUND(regr_r2(y, x), 4) AS r2
FROM ranked WHERE r <= {_ZIPF_RANKS}
GROUP BY source ORDER BY source
"""


_SNM_WINDOW = 3


def er_snm_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Sorted-neighborhood ER blocking: the classic second blocking
    strategy next to LSH (blocking_key_stats profiles the first).
    Documents are keyed by a normalized prefix (lowercased first 24
    chars, non-alphanumerics stripped), sorted within a 2-char block,
    and every record is paired with its next `_SNM_WINDOW` neighbors
    in sort order; pairs carry the Levenshtein distance of their keys
    as the match-score feature. Sorted-neighborhood catches typo-class
    duplicates whose token sets diverge (Jaccard/LSH-blind) because
    edit-distance neighbors are ADJACENT after sorting.

    Scale shape: the window partitions by the 2-char block prefix, so
    the sort is a bounded per-block sort (never a global single-
    partition window) and the candidate set is <= w x N pairs by
    construction — no all-pairs. Pairs crossing a block boundary are
    missed by design (the standard multi-pass SNM answer is a second
    run with a rotated key); the lead() scan is streaming within each
    block, so a hot prefix costs O(block) memory, not O(block^2)."""
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    keyed = (
        docs.select(
            "doc_id",
            F.regexp_replace(
                F.lower(F.substring("text", 1, 24)), "[^a-z0-9]", ""
            ).alias("skey"),
        )
        .filter(F.length("skey") >= 2)
        .withColumn("blk", F.substring("skey", 1, 2))
    )
    w = Window.partitionBy("blk").orderBy("skey", "doc_id")
    led = keyed.select(
        "doc_id",
        "skey",
        *[
            F.lead(c, i).over(w).alias(f"{a}{i}")
            for i in range(1, _SNM_WINDOW + 1)
            for a, c in (("b", "doc_id"), ("k", "skey"))
        ],
    )
    nbrs = F.array(
        *[
            F.struct(
                F.lit(i).alias("gap"),
                F.col(f"b{i}").alias("b"),
                F.col(f"k{i}").alias("bkey"),
            )
            for i in range(1, _SNM_WINDOW + 1)
        ]
    )
    return (
        led.select("doc_id", "skey", F.explode(nbrs).alias("nb"))
        .filter(F.col("nb.b").isNotNull())
        .select(
            F.col("doc_id").alias("a"),
            F.col("nb.b").alias("b"),
            F.col("nb.gap").cast("int").alias("gap"),
            F.levenshtein("skey", F.col("nb.bkey")).alias("lev"),
        )
        .orderBy("a", "gap")
    )


ER_SNM_SQL = f"""
WITH keyed AS (
  SELECT doc_id,
         regexp_replace(lower(substr(text, 1, 24)),
                        '[^a-z0-9]', '', 'g') AS skey
  FROM documents
),
blocked AS (
  SELECT doc_id, skey, substr(skey, 1, 2) AS blk
  FROM keyed WHERE length(skey) >= 2
),
led AS (
  SELECT doc_id, skey,
         LEAD(doc_id, 1) OVER w AS b1, LEAD(skey, 1) OVER w AS k1,
         LEAD(doc_id, 2) OVER w AS b2, LEAD(skey, 2) OVER w AS k2,
         LEAD(doc_id, 3) OVER w AS b3, LEAD(skey, 3) OVER w AS k3
  FROM blocked
  WINDOW w AS (PARTITION BY blk ORDER BY skey, doc_id)
)
SELECT a, b, gap, lev FROM (
  SELECT doc_id AS a, b1 AS b, 1::INT AS gap,
         levenshtein(skey, k1)::INT AS lev FROM led
  UNION ALL
  SELECT doc_id, b2, 2::INT, levenshtein(skey, k2)::INT FROM led
  UNION ALL
  SELECT doc_id, b3, 3::INT, levenshtein(skey, k3)::INT FROM led
)
WHERE b IS NOT NULL
ORDER BY a, gap
"""


_NEG_PER_EDGE = 2


def link_negative_samples(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic negative sampling over the canonical KG edges —
    the training-data counterpart of link_prediction_topk: for every
    positive (subj, obj) edge, `_NEG_PER_EDGE` corrupted-tail
    negatives (subj, obj') with obj' drawn pseudo-randomly from the
    entity vocabulary by an md5 hash of (subj, obj, k), then
    anti-joined against the positive set and self-loops dropped so no
    "negative" is secretly true. Hash-based, not RNG-based: the same
    (pos, neg) pairs come out across runs, partitionings, retries,
    and engines — the reproducibility a training pipeline needs.

    Scale shape: the entity-rank map is built once over the
    POST-canonicalization vocabulary (orders smaller than the corpus;
    at 10^12 docs the row_number build is a one-off sort-based dense
    index, the same cost class as IVF centroid training), the vocab
    SIZE joins as a broadcast scalar, candidate ranks are a narrow
    per-row hash, and the rank->entity resolution plus the positive
    anti-join are keyed equi-joins — no all-pairs, no RNG state."""
    edges = kg_nodes_edges(spark, sf).localCheckpoint(eager=True)
    pos = edges.select(
        F.col("subj_surface").alias("a"),
        F.col("obj_surface").alias("b"),
    ).distinct()
    nodes = (
        pos.select(F.col("a").alias("node"))
        .union(pos.select("b"))
        .distinct()
    )
    ranked = nodes.withColumn(
        "nrank", F.row_number().over(Window.orderBy("node")) - 1
    )
    n_nodes = ranked.groupBy().agg(F.count("*").alias("n_nodes"))
    cand = (
        pos.crossJoin(F.broadcast(n_nodes))
        .select(
            "a",
            "b",
            "n_nodes",
            F.explode(
                F.array(
                    *[F.lit(i) for i in range(1, _NEG_PER_EDGE + 1)]
                )
            ).alias("neg_idx"),
        )
        .withColumn(
            "nrank",
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("#", "a", "b", "neg_idx")), 1, 13
                ),
                16,
                10,
            ).cast("long")
            % F.col("n_nodes"),
        )
    )
    neg = cand.join(ranked, "nrank").select(
        "a", F.col("neg_idx").cast("int").alias("neg_idx"),
        F.col("node").alias("neg_obj"),
    )
    return (
        neg.join(
            pos.withColumnRenamed("b", "neg_obj"),
            ["a", "neg_obj"],
            "left_anti",
        )
        .filter(F.col("neg_obj") != F.col("a"))
        .select(F.col("a").alias("subj"), "neg_idx", "neg_obj")
        .orderBy("subj", "neg_idx", "neg_obj")
    )


LINK_NEG_SQL = f"""
WITH pos AS (
  SELECT DISTINCT 'Entity' || (doc_id % 40)       AS a,
                  'Entity' || ((doc_id * 7) % 40) AS b
  FROM documents
),
nodes AS (
  SELECT node, ROW_NUMBER() OVER (ORDER BY node) - 1 AS nrank
  FROM (SELECT a AS node FROM pos UNION SELECT b FROM pos)
),
nn AS (SELECT COUNT(*) AS n_nodes FROM nodes),
cand AS (
  SELECT a, b, k.neg_idx,
         list_reduce(
           list_transform(range(1, 14),
             i -> strpos('0123456789abcdef',
                         substr(md5(a || '#' || b || '#'
                                    || k.neg_idx::VARCHAR), i, 1)) - 1),
           (acc, x) -> acc * 16 + x) % nn.n_nodes AS nrank
  FROM pos, nn,
       (VALUES (1), (2)) AS k(neg_idx)
),
neg AS (
  SELECT c.a, c.neg_idx::INT AS neg_idx, n.node AS neg_obj
  FROM cand c JOIN nodes n USING (nrank)
)
SELECT neg.a AS subj, neg_idx, neg_obj
FROM neg
ANTI JOIN pos ON neg.a = pos.a AND neg.neg_obj = pos.b
WHERE neg_obj <> neg.a
ORDER BY subj, neg_idx, neg_obj
"""


_HIST_BIN_W = 10.0


def hist_quantile_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-bin histogram quantile sketch: per-event-type p50/p90/p99
    estimated as the lower edge of the first histogram bin whose
    cumulative count reaches ceil(p*n) — the 10^12-row swap-in for the
    exact ntile gates (events_value_deciles / quality_percentiles),
    with error bounded by the bin width (tested vs the exact
    percentiles). Same role the count-min gate plays for exact heavy
    hitters: an algebraic, mergeable approximation whose state is
    O(bins), not O(rows).

    Scale shape: ONE full-data pass — the (type, bin) count is
    algebraic (map-side combine absorbs the raw stream), and
    everything after runs on the HISTOGRAM (~50 bins/type), where the
    cumulative window and final agg are noise. Exact ntile needs a
    per-type sort of all rows; this never sorts raw data at all."""
    ev = _t(spark, sf, "events").select("event_type", "value")
    hist = (
        ev.select(
            "event_type",
            F.floor(F.col("value") / F.lit(_HIST_BIN_W))
            .cast("long")
            .alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("c"))
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("event_type"))
    )

    def _est(p: float):
        return F.round(
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.lit(p) * F.col("n")),
                    F.col("bin") * F.lit(_HIST_BIN_W),
                )
            ),
            2,
        )

    return (
        cum.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            _est(0.5).alias("p50_est"),
            _est(0.9).alias("p90_est"),
            _est(0.99).alias("p99_est"),
        )
        .orderBy("event_type")
    )


HIST_QUANTILE_SQL = f"""
WITH hist AS (
  SELECT event_type,
         floor(value / {_HIST_BIN_W})::BIGINT AS bin,
         COUNT(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bin, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM hist
)
SELECT event_type, MAX(n)::BIGINT AS n,
       ROUND(MIN(CASE WHEN cum >= ceil(0.5 * n)
                      THEN bin * {_HIST_BIN_W}::DOUBLE END), 2) AS p50_est,
       ROUND(MIN(CASE WHEN cum >= ceil(0.9 * n)
                      THEN bin * {_HIST_BIN_W}::DOUBLE END), 2) AS p90_est,
       ROUND(MIN(CASE WHEN cum >= ceil(0.99 * n)
                      THEN bin * {_HIST_BIN_W}::DOUBLE END), 2) AS p99_est
FROM cum GROUP BY event_type ORDER BY event_type
"""


_RAG_CHUNK = 32
_RAG_STRIDE = 24


def chunk_windows_rag(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping token-window chunking — the retrieval/embedding
    prep step (RAG chunking): each document becomes windows of
    `_RAG_CHUNK` tokens at stride `_RAG_STRIDE` (25% overlap so no
    span is split across a boundary without also appearing whole in a
    neighbor). The chunk text, index, and token count feed the
    embedding stage (operators/embed.py) and the chunk-level dedup
    gates (chunk_dedup_ratio) downstream.

    Scale shape: pure JVM higher-order functions — tokenize once,
    window starts via sequence(), slice per start — in ONE narrow
    projection + explode whose fanout is n_tokens/stride per doc
    (bounded, data-proportional); no shuffle at all in the transform
    (the gate's orderBy is presentation-only). A hub doc costs its own
    token count, nothing global."""
    docs = _t_spread(spark, sf, "documents", "doc_id").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        _toks().alias("toks"),
    ).filter(F.size("toks") > 0)
    starts = F.sequence(
        F.lit(0),
        F.size("toks") - 1,
        F.lit(_RAG_STRIDE),
    )
    return (
        toks.select(
            "doc_id",
            "toks",
            F.posexplode(starts).alias("chunk_idx", "start"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.slice("toks", F.col("start") + 1, _RAG_CHUNK).alias("w"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size("w").cast("int").alias("n_chunk_toks"),
            F.array_join("w", " ").alias("chunk"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


CHUNK_WINDOWS_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
nonempty AS (SELECT * FROM toks WHERE len(toks) > 0),
starts AS (
  SELECT doc_id, toks, u.start,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY u.start) - 1
           AS chunk_idx
  FROM nonempty, UNNEST(range(0, len(toks), {_RAG_STRIDE})) AS u(start)
)
SELECT doc_id, chunk_idx::INT AS chunk_idx,
       len(list_slice(toks, start + 1,
                      start + {_RAG_CHUNK}))::INT AS n_chunk_toks,
       array_to_string(list_slice(toks, start + 1,
                                  start + {_RAG_CHUNK}), ' ') AS chunk
FROM starts
ORDER BY doc_id, chunk_idx
"""


def events_anomaly_days(spark: SparkSession, sf: str) -> DataFrame:
    """Robust-stats anomaly detection over the event stream: per event
    type, flag days whose event count deviates from the type's median
    daily count by more than 3 median-absolute-deviations — the
    pipeline-monitoring primitive (a crawler source going dark or a
    bot flood both show up here before they poison downstream stats;
    median/MAD, unlike mean/stddev, don't let the anomaly mask
    itself). Ties in the interpolated median are engine-identical
    (linear interpolation in both Spark percentile and DuckDB
    quantile_cont).

    Scale shape: the full-data pass is ONE algebraic (type, day)
    count; median and MAD are computed over the DAILY table (days x
    types — tiny) and join back broadcast. Raw events are never
    sorted or shuffled twice."""
    ev = _t(spark, sf, "events").select(
        "event_type", F.to_date("ts").alias("day")
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count("*").alias("cnt")
    )
    med = daily.groupBy("event_type").agg(
        F.expr("percentile(cnt, 0.5)").alias("med")
    )
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("cnt") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("adev") > 3 * F.col("mad"))
        .select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            F.col("cnt").cast("long").alias("cnt"),
            F.round("med", 2).alias("med"),
            F.round("mad", 2).alias("mad"),
        )
        .orderBy("event_type", "day")
    )


EVENTS_ANOMALY_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*)::BIGINT AS cnt
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT event_type, quantile_cont(cnt, 0.5) AS med
  FROM daily GROUP BY 1
),
dev AS (
  SELECT d.event_type, d.day, d.cnt, m.med,
         abs(d.cnt - m.med) AS adev
  FROM daily d JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY 1
)
SELECT dev.event_type, dev.day::VARCHAR AS day, dev.cnt,
       ROUND(dev.med, 2) AS med, ROUND(mad.mad, 2) AS mad
FROM dev JOIN mad USING (event_type)
WHERE dev.adev > 3 * mad.mad
ORDER BY event_type, day
"""


def stats_drift_dumps(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-dump statistical drift: split the event stream into two
    pseudo-dumps (event_id parity — two crawls of the same source)
    and compare each event type's volume and value distribution in
    ONE conditional-aggregation pass: count ratio, mean delta, and a
    null-rate delta. The dump-acceptance check a 10^12-row ingest
    runs before merging a new crawl (the drift counterpart of the
    kg_snapshot_diff edge audit).

    Scale shape: join-free — one algebraic groupBy with count_if/
    avg(CASE) partials; each dump is a filter inside the aggregate,
    so the comparison costs one scan regardless of dump count."""
    ev = _t(spark, sf, "events").select(
        "event_type",
        "value",
        (F.col("event_id") % 2 == 0).alias("is_a"),
    )
    a = F.col("is_a")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count_if(a).cast("long").alias("n_a"),
            F.count_if(~a).cast("long").alias("n_b"),
            F.round(
                F.count_if(a) / F.count_if(~a), 4
            ).alias("count_ratio"),
            F.round(
                F.abs(
                    F.avg(F.when(a, F.col("value")))
                    - F.avg(F.when(~a, F.col("value")))
                ),
                4,
            ).alias("mean_delta"),
            F.round(
                F.abs(
                    F.avg(
                        F.when(a, F.col("value").isNull().cast("int"))
                    )
                    - F.avg(
                        F.when(~a, F.col("value").isNull().cast("int"))
                    )
                ),
                4,
            ).alias("nullrate_delta"),
        )
        .orderBy("event_type")
    )


STATS_DRIFT_SQL = """
SELECT event_type,
       count_if(event_id % 2 = 0)::BIGINT AS n_a,
       count_if(event_id % 2 = 1)::BIGINT AS n_b,
       ROUND(count_if(event_id % 2 = 0)::DOUBLE
             / count_if(event_id % 2 = 1), 4) AS count_ratio,
       ROUND(abs(avg(CASE WHEN event_id % 2 = 0 THEN value END)
                 - avg(CASE WHEN event_id % 2 = 1 THEN value END)),
             4) AS mean_delta,
       ROUND(abs(avg(CASE WHEN event_id % 2 = 0
                          THEN (value IS NULL)::INT END)
                 - avg(CASE WHEN event_id % 2 = 1
                            THEN (value IS NULL)::INT END)),
             4) AS nullrate_delta
FROM events GROUP BY event_type ORDER BY event_type
"""


_OVL_BUCKET = 3600


def sessions_overlap_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Concurrent-usage analysis: sessionize each user's event stream
    (30-min gap rule, the events_sessionize logic), then find the 20
    user pairs with the most total session-overlap seconds — the
    interval-overlap query class (co-occurrence, co-browsing, audit
    "who was active while X was active") that a naive range join makes
    O(n^2).

    Scale shape: operators.intervals.overlap_join quantizes sessions
    into 1-hour buckets, so candidates meet in a plain EQUI-join on
    the bucket id (hash-partitioned, AQE-skewable) with fanout
    duration/width+1 per session — never a nested-loop pair
    enumeration (plan-asserted). The exact predicate + distinct make
    the bucketing invisible to results; the final per-pair aggregation
    is algebraic and TakeOrderedAndProject keeps only the top 20."""
    from clip_retrieval_spark.operators.intervals import overlap_join

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.col("ts").cast("timestamp").cast("long")
    gap = ep - F.lag(ep).over(w)
    ev = (
        _t(spark, sf, "events")
        .select("user_id", "event_id", "ts")
        .withColumn(
            "new_sess",
            F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
        )
        .withColumn(
            "sess_id",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn("ep", ep)
    )
    sess = ev.groupBy("user_id", "sess_id").agg(
        F.min("ep").alias("s"), F.max("ep").alias("e")
    )
    pairs = overlap_join(sess, sess, width=_OVL_BUCKET)
    return (
        pairs.filter(F.col("l_user_id") < F.col("r_user_id"))
        .groupBy(
            F.col("l_user_id").alias("user_a"),
            F.col("r_user_id").alias("user_b"),
        )
        .agg(
            F.count("*").cast("long").alias("n_overlaps"),
            F.sum("overlap_s").cast("long").alias("total_overlap_s"),
        )
        .orderBy(F.desc("total_overlap_s"), "user_a", "user_b")
        .limit(20)
    )


SESSIONS_OVERLAP_SQL = """
WITH g AS (
  SELECT user_id, event_id, ts, floor(epoch(ts))::BIGINT AS ep,
         CASE WHEN floor(epoch(ts))::BIGINT - LAG(floor(epoch(ts))::BIGINT)
                OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              OR LAG(ts) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
numbered AS (
  SELECT user_id, ep,
         SUM(new_sess) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM g
),
sess AS (
  SELECT user_id, sess_id, MIN(ep) AS s, MAX(ep) AS e
  FROM numbered GROUP BY 1, 2
)
SELECT a.user_id AS user_a, b.user_id AS user_b,
       COUNT(*)::BIGINT AS n_overlaps,
       SUM(LEAST(a.e, b.e) - GREATEST(a.s, b.s))::BIGINT
         AS total_overlap_s
FROM sess a JOIN sess b
  ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
GROUP BY 1, 2
ORDER BY total_overlap_s DESC, user_a, user_b
LIMIT 20
"""


def exact_rank_selection(spark: SparkSession, sf: str) -> DataFrame:
    """Exact global order statistics WITHOUT a global sort: the lower
    median and the rank-ceil(0.9n) element of the events value stream,
    via operators.selection.kth_smallest (iterative histogram
    refinement + residue ranking). The exact-quantile answer at
    10^12 rows, where `ORDER BY value LIMIT 1 OFFSET k` is a full-sort
    shuffle and approx_percentile is not exact; complements the
    grouped-exact (quality_percentiles) and sketch
    (hist_quantile_sketch) gates with the exact-GLOBAL path.

    Scale shape: each refinement round is one algebraic histogram agg
    (+ one strict-below count to re-anchor the rank exactly) and a
    bins-sized driver collect; only the ~(range/bins^rounds)-wide
    residue is ever window-ranked. Selected elements are exact row
    values, so the oracle comparison is bit equality, not tolerance."""
    from clip_retrieval_spark.operators.selection import kth_smallest

    ev = _t(spark, sf, "events").select("value")
    n = ev.filter(F.col("value").isNotNull()).count()
    med = kth_smallest(ev, "value", (n + 1) // 2)
    p90 = kth_smallest(ev, "value", -(-9 * n // 10))  # ceil(0.9n)
    return spark.createDataFrame(
        [(n, med, p90)], "n long, median_val double, p90_val double"
    )


EXACT_RANK_SQL = """
WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
n AS (SELECT COUNT(*)::BIGINT AS c FROM v)
SELECT (SELECT c FROM n) AS n,
       (SELECT value FROM v ORDER BY value
        LIMIT 1 OFFSET (((SELECT c FROM n) + 1) // 2 - 1)) AS median_val,
       (SELECT value FROM v ORDER BY value
        LIMIT 1 OFFSET (CAST(ceil(0.9 * (SELECT c FROM n)) AS BIGINT)
                        - 1)) AS p90_val
"""


def events_funnel_ordered(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered funnel analysis: how many users performed
    view -> click -> purchase IN THAT ORDER (each later stage strictly
    after the user's earliest completion of the previous one), plus
    the mean time-to-convert between stages — the sequential-pattern
    query product analytics runs first. On this dense corpus every
    user completes the chain, so the DELAYS carry the ordered
    semantics: an unordered `COUNT(DISTINCT CASE ...)` reproduces the
    counts but cannot produce the strictly-after conversion delays.

    Scale shape: three chained conditional min-aggregations ALL keyed
    by user_id — the first groupBy shuffles once, and the stage-2/3
    re-aggregations and the stage joins reuse that hash partitioning
    (per-user rows, not raw events, flow through them); the final
    stage tally is a 3-row aggregate."""
    ev = _t(spark, sf, "events").select(
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp").cast("long").alias("ep"),
    )
    t1 = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ep").alias("t1")
    )
    t2 = (
        ev.join(t1, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ep") > F.col("t1")))
        .groupBy("user_id", "t1")
        .agg(F.min("ep").alias("t2"))
    )
    t3 = (
        ev.join(t2.select("user_id", "t2"), "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("ep") > F.col("t2"))
        )
        .groupBy("user_id", "t2")
        .agg(F.min("ep").alias("t3"))
    )
    zero = F.lit(0.0)
    return (
        t1.agg(F.count("*").alias("n"), zero.alias("avg_delay_s"))
        .withColumn("stage", F.lit("1_view"))
        .unionByName(
            t2.agg(
                F.count("*").alias("n"),
                F.round(F.avg(F.col("t2") - F.col("t1")), 2).alias(
                    "avg_delay_s"
                ),
            ).withColumn("stage", F.lit("2_view_click"))
        )
        .unionByName(
            t3.agg(
                F.count("*").alias("n"),
                F.round(F.avg(F.col("t3") - F.col("t2")), 2).alias(
                    "avg_delay_s"
                ),
            ).withColumn("stage", F.lit("3_view_click_purchase"))
        )
        .select(
            "stage",
            F.col("n").cast("long").alias("n_users"),
            "avg_delay_s",
        )
        .orderBy("stage")
    )


EVENTS_FUNNEL_SQL = """
WITH ev AS (
  SELECT user_id, event_type, floor(epoch(ts))::BIGINT AS ep FROM events
),
t1 AS (
  SELECT user_id, MIN(ep) AS t1 FROM ev
  WHERE event_type = 'view' GROUP BY 1
),
t2 AS (
  SELECT ev.user_id, t1, MIN(ep) AS t2
  FROM ev JOIN t1 USING (user_id)
  WHERE event_type = 'click' AND ep > t1 GROUP BY 1, 2
),
t3 AS (
  SELECT ev.user_id, t2, MIN(ep) AS t3
  FROM ev JOIN t2 USING (user_id)
  WHERE event_type = 'purchase' AND ep > t2 GROUP BY 1, 2
)
SELECT stage, n_users, avg_delay_s FROM (
  SELECT '1_view' AS stage, COUNT(*)::BIGINT AS n_users,
         0.0::DOUBLE AS avg_delay_s FROM t1
  UNION ALL
  SELECT '2_view_click', COUNT(*)::BIGINT,
         ROUND(AVG(t2 - t1), 2)::DOUBLE FROM t2
  UNION ALL
  SELECT '3_view_click_purchase', COUNT(*)::BIGINT,
         ROUND(AVG(t3 - t2), 2)::DOUBLE FROM t3
)
ORDER BY stage
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

"""Registry order contract: the round's CORRECTNESS harness checks the
FIRST 50 entries of this dict, so the declaration order is part of the
contract (tests/test_registry.py pins it with every (fn, SQL) pair).
Gates without a recent green harness row go first; the rest sit behind
the window, where tests/test_entry.py still checks every one against
its oracle. Keep any newly-added gate within the first 50 until it has
a green harness row. bench.py selects by NAME, so the order does not
affect timings."""
QUERIES: dict[str, tuple[Callable, Optional[str]]] = {
    # --- r6 rotation: gates last harness-checked in r4 ---
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_minhash_lsh": (dedup_minhash_lsh, DEDUP_MINHASH_SQL),
    "dedup_simhash": (dedup_simhash, DEDUP_SIMHASH_SQL),
    "dedup_jaccard_pairs": (dedup_jaccard_pairs, DEDUP_JACCARD_SQL),
    "lang_id_stopwords": (lang_id_stopwords, LANG_ID_SQL),
    "quality_scores": (quality_scores, QUALITY_SQL),
    "token_stats": (token_stats, TOKEN_STATS_SQL),
    "doc_fingerprints": (doc_fingerprints, DOC_FINGERPRINT_SQL),
    "ann_topk_bruteforce": (ann_topk_bruteforce, ANN_TOPK_SQL),
    "safety_filter_counts": (safety_filter_counts, SAFETY_FILTER_SQL),
    "kg_client_topk": (kg_client_topk, KG_CLIENT_SQL),
    "embedding_neardup_pairs": (embedding_neardup_pairs, EMB_NEARDUP_SQL),
    "skew_salted_agg": (skew_salted_agg, SKEW_AGG_SQL),
    "skew_salted_join": (skew_salted_join, SKEW_JOIN_SQL),
    # shares the brute-force oracle: candidate recall is exact at the
    # gate params on this data (deterministic hyperplanes; see docstring)
    "ann_lsh_bucketed": (ann_lsh_bucketed, ANN_TOPK_SQL),
    "near_dedup_documents": (near_dedup_documents, NEAR_DEDUP_SQL),
    "kg_mentions": (kg_mentions, KG_MENTIONS_SQL),
    # full link table keeps hash ids + model scores: rows-only by design;
    # the rank-1 self-match invariant below is the oracle-checked slice
    "kg_links": (kg_links, KG_LINKS_SQL),
    "kg_links_rank1": (kg_links_rank1, KG_LINKS_RANK1_SQL),
    "kg_nodes_edges": (kg_nodes_edges, KG_NODES_EDGES_SQL),
    "bpe_token_counts": (bpe_token_counts, BPE_TOKEN_SQL),
    "events_asof_join": (events_asof_join, EVENTS_ASOF_SQL),
    "kg_degree_stats": (kg_degree_stats, KG_DEGREE_SQL),
    "kg_pagerank3": (kg_pagerank3, KG_PAGERANK_SQL),
    "ann_ivf_topk": (ann_ivf_topk, ANN_IVF_SQL),
    "kmeans_assign2": (kmeans_assign2, KMEANS_SQL),
    "bm25_topterms": (bm25_topterms, BM25_SQL),
    "doc_triangle_counts": (doc_triangle_counts, TRIANGLE_SQL),
    "quality_repetition": (quality_repetition, QUALITY_REPETITION_SQL),
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q3_top_revenue_orders": (q3_top_revenue_orders, Q3_SQL),
    "q5_nation_revenue": (q5_nation_revenue, Q5_SQL),
    "filter_project_parts": (filter_project_parts, FILTER_PROJECT_SQL),
    "sort_topn_lineitems": (sort_topn_lineitems, SORT_TOPN_SQL),
    "window_top3_orders": (window_top3_orders, WINDOW_TOP3_SQL),
    "semi_join_customers": (semi_join_customers, SEMI_JOIN_SQL),
    "anti_join_customers": (anti_join_customers, ANTI_JOIN_SQL),
    "distinct_agg_orders": (distinct_agg_orders, DISTINCT_AGG_SQL),
    "set_ops_segments": (set_ops_segments, SET_OPS_SQL),
    "string_functions_parts": (string_functions_parts, STRING_FUNCS_SQL),
    "events_json_extract": (events_json_extract, EVENTS_JSON_SQL),
    "events_hourly_rollup": (events_hourly_rollup, EVENTS_HOURLY_SQL),
    "events_sessionize": (events_sessionize, EVENTS_SESSIONIZE_SQL),
    "events_latest_per_user": (events_latest_per_user, EVENTS_LATEST_SQL),
    "events_from_json_schema": (events_from_json_schema, EVENTS_FROM_JSON_SQL),
    "base64_roundtrip_docs": (base64_roundtrip_docs, BASE64_SQL),
    "aesthetic_rerank": (aesthetic_rerank, AESTHETIC_RERANK_SQL),
    "label_centroid_norms": (label_centroid_norms, LABEL_CENTROID_SQL),
    # --- the r5 window: only the first two of these stay inside the
    # first 50; tests/test_entry.py checks them at sf0.01 and sf0.001 ---
    "pq_adc_search": (pq_adc_search, PQ_ADC_SQL),
    "contamination_ngrams": (contamination_ngrams, CONTAMINATION_SQL),
    "sample_stratified": (sample_stratified, SAMPLE_STRATIFIED_SQL),
    "url_canonicalize": (url_canonicalize, URL_CANONICALIZE_SQL),
    "chunk_dedup_ratio": (chunk_dedup_ratio, CHUNK_DEDUP_SQL),
    "doc_communities_lpa": (doc_communities_lpa, DOC_COMMUNITIES_SQL),
    "semantic_dedup_keep": (semantic_dedup_keep, SEMANTIC_DEDUP_SQL),
    "lm_perplexity": (lm_perplexity, LM_PERPLEXITY_SQL),
    "link_prediction_topk": (link_prediction_topk, LINK_PREDICTION_SQL),
    "quality_percentiles": (quality_percentiles, QUALITY_PERCENTILES_SQL),
    "distinct_sketch_kmv": (distinct_sketch_kmv, DISTINCT_KMV_SQL),
    "doc_kcore_members": (doc_kcore_members, DOC_KCORE_SQL),
    "incremental_dedup_batches": (
        incremental_dedup_batches,
        INCREMENTAL_DEDUP_SQL,
    ),
    "docs_rollup_source_lang": (docs_rollup_source_lang, DOCS_ROLLUP_SQL),
    "events_pivot_types": (events_pivot_types, EVENTS_PIVOT_SQL),
    "events_moving_avg": (events_moving_avg, EVENTS_MOVING_AVG_SQL),
    "topk_tokens_by_source": (topk_tokens_by_source, TOPK_TOKENS_SQL),
    "events_scd2_intervals": (events_scd2_intervals, EVENTS_SCD2_SQL),
    "topk_tokens_sketch": (topk_tokens_sketch, TOPK_TOKENS_SKETCH_SQL),
    "kg_ntriples_export": (kg_ntriples_export, KG_NTRIPLES_SQL),
    "kg_twohop_paths": (kg_twohop_paths, KG_TWOHOP_SQL),
    "doc_bfs_distances": (doc_bfs_distances, DOC_BFS_SQL),
    "hll_distinct_sketch": (hll_distinct_sketch, HLL_SKETCH_SQL),
    "blocking_key_stats": (blocking_key_stats, BLOCKING_KEYS_SQL),
    "sample_weighted": (sample_weighted, SAMPLE_WEIGHTED_SQL),
    "events_value_deciles": (events_value_deciles, EVENTS_DECILES_SQL),
    "dedup_containment_pairs": (
        dedup_containment_pairs,
        DEDUP_CONTAINMENT_SQL,
    ),
    "cluster_agreement_metrics": (
        cluster_agreement_metrics,
        CLUSTER_AGREEMENT_SQL,
    ),
    "chunk_strip_docs": (chunk_strip_docs, CHUNK_STRIP_SQL),
    "token_entropy_by_source": (token_entropy_by_source, TOKEN_ENTROPY_SQL),
    "source_overlap_matrix": (source_overlap_matrix, SOURCE_OVERLAP_SQL),
    "pmi_bigrams_topk": (pmi_bigrams_topk, PMI_BIGRAMS_SQL),
    "events_trend_slopes": (events_trend_slopes, EVENTS_TREND_SQL),
    "embedding_dim_correlations": (
        embedding_dim_correlations,
        EMB_DIM_CORR_SQL,
    ),
    "kg_incremental_merge": (kg_incremental_merge, KG_INCREMENTAL_SQL),
    "kg_triple_provenance": (kg_triple_provenance, KG_PROVENANCE_SQL),
    "kg_snapshot_diff": (kg_snapshot_diff, KG_SNAPSHOT_DIFF_SQL),
    "kwic_concordance": (kwic_concordance, KWIC_SQL),
    "zipf_fit_by_source": (zipf_fit_by_source, ZIPF_FIT_SQL),
    "er_snm_pairs": (er_snm_pairs, ER_SNM_SQL),
    "link_negative_samples": (link_negative_samples, LINK_NEG_SQL),
    "hist_quantile_sketch": (hist_quantile_sketch, HIST_QUANTILE_SQL),
    "chunk_windows_rag": (chunk_windows_rag, CHUNK_WINDOWS_SQL),
    "events_anomaly_days": (events_anomaly_days, EVENTS_ANOMALY_SQL),
    "stats_drift_dumps": (stats_drift_dumps, STATS_DRIFT_SQL),
    "sessions_overlap_pairs": (sessions_overlap_pairs, SESSIONS_OVERLAP_SQL),
    "exact_rank_selection": (exact_rank_selection, EXACT_RANK_SQL),
    "events_funnel_ordered": (events_funnel_ordered, EVENTS_FUNNEL_SQL),
    # --- the two north-rule invariants (byte-identical text, exact
    # triples) ---
    "kg_extract_text": (kg_extract_text, KG_EXTRACT_SQL),
    "kg_triples": (kg_triples, KG_TRIPLES_SQL),
}
