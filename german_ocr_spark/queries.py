"""Driver-contract query registry (SURVEY §2 Part B + training-data ops).

Every entry exists twice: a Spark DataFrame program (idiomatic —
declarative plans, broadcast hints, window specs, built-in functions
only in the hot path) and a DuckDB ANSI-SQL oracle producing the exact
same rows. Column names are aliased identically on both sides; float
aggregation goes through exact DECIMAL arithmetic or floor-rounding so
the driver's value-hash comparison is bitwise-stable.

Conventions for cross-engine determinism:
- money sums, small magnitude (unscaled decimal < 2^53): cast to
  DECIMAL(18,4) BEFORE aggregating (exact, order-independent on both
  engines), cast the final sum to double;
- money sums, large magnitude (whole-table / per-nation aggregates —
  anything whose sum can pass 2^53 at its scale): EXACT scaled-integer
  cents (`_DISC_PRICE_CENTS`); the final decimal→double cast is NOT
  engine-stable past 2^53 (DuckDB double-rounds int128→double→/10^s,
  Spark rounds once — verified 1-ulp divergence at sf0.1, q01);
- ratios: floor(x*1e6)/1e6 (round() differs: HALF_UP vs HALF_EVEN);
- top-k: rank keys always include a unique integer tiebreak;
- hashes: md5 hex (identical everywhere); hex→int via conv/0x-cast.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import german, pii, templates, textstats
from .materialize import materialize
from .schema import SPAN_KINDS

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dec(col_name: str):
    return F.col(col_name).cast("decimal(18,4)")


def _floor6(c):
    return F.floor(c * 1000000.0) / 1000000.0


def _floor6_sql(e: str) -> str:
    return f"(floor(({e}) * 1000000.0) / 1000000.0)"


def _golden_path(name: str) -> str:
    """Committed golden parquet files (single-node pure-pandas results,
    regenerated by tools/make_golden.py) that back the oracles of
    queries whose computation is not SQL-expressible: the oracle is a
    straight SELECT of the golden file, so the driver's hash gate
    verifies distributed == single-node."""
    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests",
        "golden",
        name,
    )


def _banded_prefix(
    df: DataFrame,
    order_col: str,
    weights: dict[str, Column],
    band: Column,
    ascending: bool = True,
) -> DataFrame:
    """THE one implementation of the banded-prefix-sum discipline
    (q226's round-4 restatement, reused by q178 and the prefix-banded
    tie rank): for each entry in ``weights`` (output name → weight
    expression), add a column holding the INCLUSIVE prefix sum of that
    weight over the global ``order_col`` ordering — computed with NO
    unpartitioned window. Mechanism: a window PARTITIONED by ``band``
    (in-band running sums over a ROWS frame) plus strictly-prior-band
    totals from a broadcast triangular self-join over the bands-sized
    relation. ``band`` must be order-consistent: every row of a
    lexicographically smaller band precedes every row of a larger one
    under ``order_col`` (bit-length bands over a positive numeric, or
    a character prefix of a string key, both qualify). ``order_col``
    must be unique per band (a groupBy key or an entity key), so the
    ROWS frame equals RANGE and a weight of lit(1) yields row_number.
    Descending mode flips both the in-band order and the band
    comparison. Partition sizes are band-sized, never the full
    relation — the whole point of the discipline."""
    out_cols = list(df.columns)
    w = Window.partitionBy("__band").orderBy(
        F.asc(order_col) if ascending else F.desc(order_col)
    ).rowsBetween(Window.unboundedPreceding, 0)
    d2 = df.withColumn("__band", band)
    in_band = d2.select(
        "*",
        *[F.sum(e).over(w).alias(f"__in_{k}") for k, e in weights.items()],
    )
    bt = d2.groupBy("__band").agg(
        *[F.sum(e).alias(f"__bt_{k}") for k, e in weights.items()]
    )
    bt2 = bt.select(
        F.col("__band").alias("__band2"),
        *[F.col(f"__bt_{k}").alias(f"__bt2_{k}") for k in weights],
    )
    cond = (
        F.col("__band2") < F.col("__band")
        if ascending
        else F.col("__band2") > F.col("__band")
    )
    offs = (
        bt.join(F.broadcast(bt2), cond, "left")
        .groupBy("__band")
        .agg(
            *[
                F.coalesce(F.sum(f"__bt2_{k}"), F.lit(0)).alias(f"__off_{k}")
                for k in weights
            ]
        )
    )
    return in_band.join(F.broadcast(offs), "__band").select(
        *out_cols,
        *[
            (F.col(f"__in_{k}") + F.col(f"__off_{k}")).alias(k)
            for k in weights
        ],
    )


# =====================================================================
# Relational core (SURVEY B3/B4/B9-B13) over the TPC-H-ish tables
# =====================================================================

# Money sums at corpus scale: once a DECIMAL(38,8) sum's unscaled value
# passes 2^53 (~9e15, i.e. sums past ~1e8 at scale 8), engines disagree
# on the final double by 1 ulp — DuckDB converts int128→double and THEN
# divides by 10^s (two roundings) while Spark's BigDecimal.doubleValue
# rounds once. Verified live: q01's sum_disc_price hash-matched at
# sf0.01 and diverged at sf0.1. Large-magnitude money therefore uses
# EXACT scaled-integer cents end to end: quantize each operand to e4
# (tie-free — inputs carry ≤4 decimals, so round() never sees .5),
# multiply as int64, truncate each row's product to cents (floor on
# positive values, mirrored by // in the oracle), SUM the int64 cents.
# No double appears anywhere, so no engine can round differently.
_PRICE_E4 = "CAST(ROUND(l_extendedprice * 10000) AS BIGINT)"
_DISC_E4 = "CAST(ROUND(l_discount * 10000) AS BIGINT)"
_DISC_PRICE_CENTS = f"(({_PRICE_E4}) * (10000 - ({_DISC_E4}))) // 1000000"
# the same expression in Spark SQL (div = integral division, == // here)
_DISC_PRICE_CENTS_SPARK = f"({_PRICE_E4} * (10000 - {_DISC_E4})) div 1000000"


@query(
    "q01_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(({_PRICE_E4}) // 100) AS BIGINT) AS sum_base_price_cents,
           CAST(SUM({_DISC_PRICE_CENTS}) AS BIGINT) AS sum_disc_price_cents,
           (floor(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                  / COUNT(*) * 1000000.0) / 1000000.0) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    disc_cents = F.expr(_DISC_PRICE_CENTS_SPARK)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(F.expr(f"{_PRICE_E4} div 100")).alias("sum_base_price_cents"),
            F.sum(disc_cents).alias("sum_disc_price_cents"),
            _floor6(
                F.sum(_dec("l_quantity")).cast("double") / F.count("*")
            ).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q02_top_orders",
    """
    SELECT o.o_orderkey, o.o_orderdate,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q02(spark, sf_dir):
    # customer is the small dimension: broadcast it (no shuffle of the
    # fact side on the build key at 100 TB).
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "q03_region_revenue",
    f"""
    SELECT n.n_name AS nation,
           CAST(SUM({_DISC_PRICE_CENTS}) AS BIGINT) AS revenue_cents,
           COUNT(*) AS n_items
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
                  JOIN customer c ON c.c_nationkey = n.n_nationkey
                  JOIN orders o ON o.o_custkey = c.c_custkey
                  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE r.r_name IN ('EUROPE', 'ASIA')
    GROUP BY n.n_name
    """,
)
def q03(spark, sf_dir):
    r = load(spark, sf_dir, "region").filter(F.col("r_name").isin("EUROPE", "ASIA"))
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    # dim chain region->nation->customer is tiny: broadcast the whole
    # reduced customer dim into the fact joins.
    dim = (
        c.join(F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
               c.c_nationkey == n.n_nationkey)
        .select("c_custkey", "n_name")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(dim), o.o_custkey == dim.c_custkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            # exact cents (see the scaled-integer note above q01):
            # nation-level sums pass the 2^53 unscaled-double threshold
            # far below production scale, where the decimal→double cast
            # diverges across engines by 1 ulp
            F.sum(F.expr(_DISC_PRICE_CENTS_SPARK)).alias("revenue_cents"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "q04_priority_discounted",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.05)
    GROUP BY o_orderpriority
    """,
)
def q04(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.05)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@query(
    "q05_orders_no_lineitem",
    """
    SELECT o_orderstatus, COUNT(*) AS n_orders
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    GROUP BY o_orderstatus
    """,
)
def q05(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
    )


@query(
    "q06_top_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders)
    WHERE rn <= 3
    """,
)
def q06(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "q07_running_user_value",
    """
    SELECT user_id, event_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS run_value
    FROM events
    """,
)
def q07(spark, sf_dir):
    # running sum goes through DECIMAL: exact, so the prefix sums are
    # bit-identical regardless of engine or partitioning.
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("run_value"),
    )


@query(
    "q08_events_hourly",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type, COUNT(*) AS n,
           (floor(AVG(value) * 1000000.0) / 1000000.0) AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def q08(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            _floor6(F.avg("value")).alias("avg_value"),
        )
    )


@query(
    "q09_sessionize",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id, COUNT(DISTINCT session_id) AS n_sessions,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id
    """,
)
def q09(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts").cast("timestamp").cast("long")
                - F.lag("ts").over(w).cast("timestamp").cast("long")
                > 1800
            ),
            1,
        ).otherwise(0),
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = flagged.withColumn("session_id", F.sum("is_new").over(wrun))
    return sess.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@query(
    "q10_rollup_docs",
    """
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY ROLLUP (lang, source)
    """,
)
def q10(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.rollup("lang", "source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


@query(
    "q11_topk_docs",
    """
    SELECT doc_id, lang, n_chars FROM documents
    ORDER BY n_chars DESC, doc_id ASC LIMIT 20
    """,
)
def q11(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return (
        d.orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .select("doc_id", "lang", "n_chars")
        .limit(20)
    )


@query(
    "q12_clickers_not_buyers",
    """
    SELECT user_id FROM events
    WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-08 00:00:00'
    EXCEPT
    SELECT user_id FROM events
    WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-08 00:00:00'
    """,
)
def q12(spark, sf_dir):
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp_ntz")
    )
    clickers = ev.filter(F.col("event_type") == "click").select("user_id")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return clickers.distinct().exceptAll(buyers.distinct())


@query(
    "q13_json_extract",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
               AS k_sum
    FROM events GROUP BY 1
    """,
)
def q13(spark, sf_dir):
    # A9/A10 analog: JSON field extraction as a relational op
    # (reference _parse_json, extractor.py:110-130).
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy((k % 10).alias("k_mod")).agg(
        F.count("*").alias("n"), F.sum(k).alias("k_sum")
    )


# =====================================================================
# Text analysis & German normalization (B4/B7; training-data ops)
# =====================================================================

@query(
    "q14_normalize_german",
    f"""
    SELECT doc_id, {german.normalize_sql('text')} AS clean_text FROM documents
    """,
)
def q14(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", german.normalize_col(F.col("text")).alias("clean_text"))


@query(
    "q15_doc_stats",
    f"""
    SELECT doc_id,
           {textstats.token_count_sql('text')} AS n_tokens,
           {textstats.punct_ratio_sql('text')} AS punct_ratio,
           {textstats.stopword_ratio_sql('text')} AS stopword_ratio,
           {textstats.quality_score_sql('text')} AS quality,
           {textstats.langid_sql('text')} AS lang_guess
    FROM documents
    """,
)
def q15(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        textstats.token_count_col(t).alias("n_tokens"),
        textstats.punct_ratio_col(t).alias("punct_ratio"),
        textstats.stopword_ratio_col(t).alias("stopword_ratio"),
        textstats.quality_score_col(t).alias("quality"),
        textstats.langid_col(t).alias("lang_guess"),
    )


@query(
    "q16_langid_distribution",
    f"""
    SELECT {textstats.langid_sql('text')} AS lang_guess, lang AS lang_true,
           COUNT(*) AS n
    FROM documents GROUP BY 1, 2
    """,
)
def q16(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.groupBy(
        textstats.langid_col(F.col("text")).alias("lang_guess"),
        F.col("lang").alias("lang_true"),
    ).agg(F.count("*").alias("n"))


@query(
    "q39_curation_report",
    f"""
    WITH scored AS (
      SELECT source, lang,
             {textstats.quality_score_sql('text')} AS q,
             {textstats.langid_sql('text')} AS lang_guess,
             {textstats.token_count_sql('text')} AS toks
      FROM documents
    )
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN q >= 0.5 AND lang_guess = lang
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           CAST(SUM(CASE WHEN q >= 0.5 AND lang_guess = lang
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_drop,
           (floor(AVG(q) * 1000000.0) / 1000000.0) AS avg_quality,
           CAST(SUM(CASE WHEN q >= 0.5 AND lang_guess = lang
                         THEN toks ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM scored GROUP BY source, lang
    """,
)
def q39(spark, sf_dir):
    # The corpus-curation decision a training-data pipeline executes:
    # score every document (quality composite + language agreement),
    # decide keep/drop, report per (source, lang) with the surviving
    # token budget. One map pass (all scoring is JVM codegen) + one
    # small groupBy — at 100 TB the scan dominates and the report is
    # a few hundred rows.
    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    q = textstats.quality_score_col(t)
    keep = (q >= 0.5) & (textstats.langid_col(t) == F.col("lang"))
    scored = d.select(
        "source",
        "lang",
        q.alias("q"),
        keep.alias("keep"),
        textstats.token_count_col(t).alias("toks"),
    )
    return scored.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_keep"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("n_drop"),
        _floor6(F.avg("q")).alias("avg_quality"),
        F.sum(F.when(F.col("keep"), F.col("toks")).otherwise(0)).alias(
            "kept_tokens"
        ),
    )


@query(
    "q17_exact_dedup",
    f"""
    SELECT {textstats.fingerprint_sql('text')} AS fp,
           MIN(doc_id) AS keeper, COUNT(*) AS n_dups
    FROM documents GROUP BY 1
    """,
)
def q17(spark, sf_dir):
    # Exact dedup: hash-groupBy on canonicalized text (map-side partial
    # agg; at 100 TB this is one shuffle on the 16-byte fingerprint).
    d = load(spark, sf_dir, "documents")
    return d.groupBy(
        textstats.fingerprint_col(F.col("text")).alias("fp")
    ).agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_dups"))


# =====================================================================
# Near-duplicate detection: shingles → Jaccard, MinHash, LSH bands
# (training-data dedup family; SURVEY Part B + task brief)
# =====================================================================

# Shared shingle CTE (DuckDB): word 3-grams via aligned unnest + lead(),
# hashed to the same 48-bit int64 the Spark side computes in-row.
_SHINGLE_CTE = """
    WITH tok AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok,
             generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1) AS pos
      FROM documents
    ), sh AS (
      SELECT doc_id,
             tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w AS sh
      FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), hsh AS (
      SELECT DISTINCT doc_id, ('0x' || substr(md5(sh), 1, 12))::BIGINT AS shh
      FROM sh WHERE sh IS NOT NULL)
"""

# Document-frequency cap for the shingle inverted index (q18): a shingle
# appearing in more than this many documents is a stop-phrase carrying no
# dedup signal, and its join fan-out is O(df^2) pairs — at 10^6 docs a
# single "der die das" key would emit 10^12 pairs that AQE can spread but
# never shrink. The cap bounds per-shingle pair output to
# CAP*(CAP-1)/2 (~2k pairs at 64). Sizing rule: keep CAP well below
# sqrt(total_pair_budget / n_distinct_hot_shingles); 64 is a standard
# production choice (cf. suffix-array/minhash dedup pipelines) and at
# 100 TB it makes the pair stage linear in corpus size.
Q18_SHINGLE_DF_CAP = 64


def _shingles(spark, sf_dir):
    """Distinct hashed word-3-gram shingles per doc: (doc_id, shh:int64).

    Built IN-ROW (transform over the token array) — the tokens of one
    document never leave their row, so there is no explode+window
    shuffle over the full token stream (at 100 TB that shuffle would
    move the entire corpus once just to see each token's two
    neighbors). Matches the SQL oracle's lead()-based formulation:
    i in [1, n_tokens-2] yields exactly the windows whose trailing
    partials the NULL-propagating `||` drops.

    Shingles are hashed to 48-bit int64 (md5 prefix) BEFORE the explode,
    so every downstream shuffle (df counting, inverted-index groupBy,
    MinHash groupBy) moves 8-byte keys instead of ~25-byte strings.
    Dedup happens on the hashed value in-row (array_distinct), which the
    oracle mirrors with DISTINCT over the same md5-prefix expression —
    a 48-bit in-doc collision merges the same shingles on both engines.
    MinHash is unaffected either way: min over a multiset ignores
    duplicates."""
    d = load(spark, sf_dir, "documents")
    sh_arr = F.expr(
        "CASE WHEN size(toks) >= 3 THEN "
        "array_distinct(transform(sequence(1, size(toks) - 2),"
        " i -> cast(conv(substring(md5("
        "concat_ws(' ', toks[i-1], toks[i], toks[i+1])), 1, 12), 16, 10)"
        " as bigint))) "
        "ELSE array() END"
    )
    return (
        d.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.split(F.trim("text"), r"\s+").alias("toks"),
        )
        .select("doc_id", F.explode(sh_arr).alias("shh"))
    )


@query(
    "q18_ngram_jaccard_pairs",
    _SHINGLE_CTE
    + f"""
    , groups AS (
      SELECT shh, COUNT(*) AS df FROM hsh GROUP BY shh
      HAVING COUNT(*) <= {Q18_SHINGLE_DF_CAP}
    ),
    capped AS (SELECT h.doc_id, h.shh FROM hsh h JOIN groups USING (shh)),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM capped GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM capped a JOIN capped b ON a.shh = b.shh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           (floor(inter * 1000000.0 / (sa.sz + sb.sz - inter)) / 1000000.0)
             AS jaccard
    FROM pairs p JOIN sizes sa ON sa.doc_id = p.doc_a
                 JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE inter * 2.0 > (sa.sz + sb.sz - inter)
    """,
)
def q18(spark, sf_dir):
    # Shingle inverted index with a document-frequency cap. The cap is
    # applied BEFORE any posting list materializes: a COUNT aggregation
    # (map-side partial — a hot key only ever adds up integers per
    # task) finds the shingles with df <= Q18_SHINGLE_DF_CAP, postings
    # are semi-joined to that survivor set (co-partitioned on shh, so
    # AQE reuses the exchange), and only THEN are the surviving
    # posting lists collected — the 10^6-doc stop-phrase never builds
    # a 10^6-element aggregation buffer anywhere. Candidate pairs are
    # generated IN-ROW from each capped, sorted posting list, so
    # per-shingle pair output is hard-bounded at CAP*(CAP-1)/2 and the
    # whole pair stage is linear in corpus size. Jaccard is computed
    # over the capped shingle universe (sizes count only df<=CAP
    # shingles), which the oracle mirrors exactly. No O(n^2) pair
    # enumeration anywhere.
    posts = _shingles(spark, sf_dir)
    return jaccard_pairs_from_postings(posts)


def capped_postings(posts: DataFrame, df_cap: int = Q18_SHINGLE_DF_CAP) -> DataFrame:
    """Apply the document-frequency cap to a (doc_id, shh) posting
    relation BEFORE any posting list materializes (see q18's doc)."""
    survivors = (
        posts.groupBy("shh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("shh")
    )
    return posts.join(survivors, "shh")


def jaccard_pairs_from_postings(posts: DataFrame) -> DataFrame:
    """q18's pair stage over a raw posting relation (caps, then pairs).

    Deliberately NOT checkpointed (measured and reverted, the
    BENCH_SCALING.md discipline): the expansion is cheap in-row
    codegen whose OUTPUT is large, so materializing the uncapped
    postings costs more than recomputing them per consumer
    (q18 3.17s -> 3.96s, q71 2.93s -> 3.45s at sf0.1/32c with
    checkpoints). Contrast q132/q161, where the checkpointed relation
    is expensive per row (per-char fold) or has five consumers. The
    100 TB amortization lives in operators/staged_dedup.py, which
    stages `capped` (already df-capped, so small) bucketed to parquet."""
    return jaccard_pairs_from_capped(capped_postings(posts))


def pair_intersections(capped: DataFrame) -> DataFrame:
    """(doc_a, doc_b, inter, sza, szb) over an ALREADY-CAPPED posting
    relation: the shared overlap stage under q18 (symmetric Jaccard)
    and q71 (asymmetric containment) — one pair enumeration, two
    similarity semantics projected off it. Pairs are generated IN-ROW
    from each capped, sorted posting list (see q18's doc for the
    df-cap scale argument)."""
    groups = capped.groupBy("shh").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ds")
    )
    sizes = capped.groupBy("doc_id").agg(F.count("*").alias("sz"))
    # ds is sorted, so j<i gives doc_a < doc_b with no post-filter.
    pair_arr = F.expr(
        "flatten(transform(sequence(1, size(ds) - 1),"
        " i -> transform(sequence(0, i - 1),"
        " j -> struct(ds[j] AS doc_a, ds[i] AS doc_b))))"
    )
    pairs = (
        groups.filter(F.size("ds") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "inter",
            F.col("sa.sz").alias("sza"),
            F.col("sb.sz").alias("szb"),
        )
    )


def jaccard_pairs_from_capped(capped: DataFrame) -> DataFrame:
    """Near-dup Jaccard pairs from an ALREADY-CAPPED posting relation —
    shared by q18 (inline) and the staged-postings 100 TB path
    (operators/staged_dedup.py), which materializes `capped` once,
    bucketed by shh, and runs every consumer off the staged table."""
    return (
        pair_intersections(capped)
        .filter(
            F.col("inter") * 2.0 > (F.col("sza") + F.col("szb") - F.col("inter"))
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.floor(
                    F.col("inter")
                    * 1000000.0
                    / (F.col("sza") + F.col("szb") - F.col("inter"))
                )
                / 1000000.0
            ).alias("jaccard"),
        )
    )


# MinHash parameters: x reduced mod p first so a*x+b stays < 2^41.
_MH_P = 2147483647
_MH_COEF = ((2, 1), (3, 7), (5, 11), (7, 19), (11, 23), (13, 31))

# MinHash LSH banding — SCALE PARAMETERS (b bands of r rows):
# P(candidate | Jaccard=s) = 1 - (1 - s^r)^b, an S-curve with threshold
# ≈ (1/b)^(1/r). b=3, r=2 puts the threshold at ~0.57 — tuned for
# "near-dup" (J >= 0.5). At larger corpus sizes keep r*b = len(_MH_COEF)
# signatures but raise r (narrower buckets, fewer false candidates) —
# the same budget trade as SH_BAND_BITS above.
MH_ROWS_PER_BAND = 2
MH_N_BANDS = len(_MH_COEF) // MH_ROWS_PER_BAND


def _minhash_df(spark, sf_dir):
    # Operates on the 48-bit hashed shingles from _shingles — min over a
    # multiset is dedup-insensitive, so hashed-value dedup changes nothing.
    shd = _shingles(spark, sf_dir)
    x = F.col("shh") % F.lit(_MH_P)
    aggs = [
        F.min((F.lit(a) * x + F.lit(b)) % F.lit(_MH_P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(_MH_COEF)
    ]
    return shd.groupBy("doc_id").agg(*aggs)


def _minhash_sql_cols() -> str:
    x = f"(shh % {_MH_P})"
    return ", ".join(
        f"MIN(({a} * {x} + {b}) % {_MH_P}) AS mh{i}"
        for i, (a, b) in enumerate(_MH_COEF)
    )


@query(
    "q19_minhash_signatures",
    _SHINGLE_CTE
    + f"""
    SELECT doc_id, {_minhash_sql_cols()}
    FROM hsh GROUP BY doc_id
    """,
)
def q19(spark, sf_dir):
    # MinHash signature = k independent permutation-min hashes per doc;
    # one shuffle (groupBy doc_id), map-side partial min.
    return _minhash_df(spark, sf_dir)


def _mh_bands_sql() -> str:
    """Band CTE generated from (MH_N_BANDS, MH_ROWS_PER_BAND) so the
    oracle can never drift from the Spark band layout."""
    selects = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {i} AS band, {sig} AS sig FROM mh".format(
            i=i,
            sig=" || ':' || ".join(
                f"mh{i * MH_ROWS_PER_BAND + r}" for r in range(MH_ROWS_PER_BAND)
            ),
        )
        for i in range(MH_N_BANDS)
    )
    return f"bands AS (\n      {selects}\n    )"


@query(
    "q20_lsh_candidate_pairs",
    _SHINGLE_CTE
    + f"""
    , mh AS (SELECT doc_id, {_minhash_sql_cols()} FROM hsh GROUP BY doc_id),
    {_mh_bands_sql()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(DISTINCT a.band) AS n_bands
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def q20(spark, sf_dir):
    # LSH banding: docs sharing any band signature are candidates —
    # the bucket-join replaces all-pairs comparison (shuffle key =
    # (band, sig); bucket sizes bound the join fan-out). (b, r) sizing
    # rule at the MH_N_BANDS/MH_ROWS_PER_BAND definition.
    mh = _minhash_df(spark, sf_dir)
    # all bands in ONE pass over the signatures: posexplode of an
    # in-row array (pos IS the band id) instead of an N-way union that
    # would re-read the aggregated-signature subtree per band
    bands = mh.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        *[
                            f"mh{band * MH_ROWS_PER_BAND + r}"
                            for r in range(MH_ROWS_PER_BAND)
                        ],
                    )
                    for band in range(MH_N_BANDS)
                ]
            )
        ).alias("band", "sig"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.countDistinct(F.col("a.band")).alias("n_bands"))
    )


# =====================================================================
# Embedding similarity: brute-force cosine top-k + sign-LSH bucketed ANN
# =====================================================================

# Exact cross-engine dot products: explode dims, multiply as DOUBLE,
# sum as DECIMAL(28,12) (order-independent), divide as DOUBLE.
_EMB_DIMS_CTE = """
    WITH dims AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), norms AS (
      SELECT vec_id,
             sqrt(CAST(SUM(CAST(v * v AS DECIMAL(28,12))) AS DOUBLE)) AS nrm
      FROM dims GROUP BY vec_id
    )
"""


# In-row exact arithmetic over embedding arrays — the Spark-side scale
# path. The oracle SQL keeps the relational dims-explosion formulation;
# value parity holds because both sum the SAME per-element
# DECIMAL(28,12) products exactly (decimal addition is associative and
# exact, so in-row left fold == SQL SUM over exploded rows).
def _fold_dec(arr):
    """Exact sum of a decimal(28,12) array via left fold.

    Null elements are dropped before folding: zip_with pads unequal-
    length arrays with nulls, and a null product would otherwise poison
    the whole sum — dropping them matches the oracles' relational form
    (an inner join on pos sums only the shared positions).

    The ACCUMULATOR is decimal(38,12) — the same width SQL SUM over
    decimal(28,12) widens to on both engines — so the fold has identical
    overflow headroom to the oracles: a sum past ~10^16 would otherwise
    null out here while the SQL SUM kept going (ADVICE r01)."""
    return F.aggregate(
        F.filter(arr, lambda x: x.isNotNull()),
        F.lit(0).cast("decimal(38,12)"),
        lambda acc, x: (acc + x).cast("decimal(38,12)"),
    ).cast("double")


def _dot_dec(a, b):
    """Exact dot product of two float arrays (decimal accumulation)."""
    return _fold_dec(
        F.zip_with(
            a,
            b,
            lambda x, y: (
                x.cast("double") * y.cast("double")
            ).cast("decimal(28,12)"),
        )
    )


def _nrm_dec(a):
    return F.sqrt(_dot_dec(a, a))


def _cent_dist_arr(cent_rows, emb_col: str = "embedding"):
    """Sorted array of (d2, cell) structs — squared exact-decimal
    distance from `emb_col` to every centroid — built as ONE loop-form
    higher-order expression over a 2-D centroid array literal instead
    of N unrolled folds. Arithmetic is identical to the unrolled form
    (per-element double subtraction → decimal(28,12) product →
    decimal(38,12) fold, _fold_dec's rule), but the expression tree is
    O(1) in centroid count: measured on q44, the unrolled 16-fold tree
    cost ~2.8 s of driver-side analysis + multi-second codegen PER RUN
    (constant overhead, data-independent); the loop form deletes it.
    Centroid doubles are inlined via repr() → CAST(string AS DOUBLE),
    an exact round-trip."""
    cents = (
        "array("
        + ",".join(
            "array("
            + ",".join(f"cast('{v!r}' as double)" for v in vec)
            + ")"
            for _, vec in cent_rows
        )
        + ")"
    )
    cells = "array(" + ",".join(f"{cell}L" for cell, _ in cent_rows) + ")"
    return F.expr(
        f"array_sort(zip_with({cents}, {cells}, (cv, cl) -> struct("
        f" cast(aggregate(filter(zip_with({emb_col}, cv,"
        "   (x, y) -> cast((cast(x as double) - y) * (cast(x as double) - y)"
        "    as decimal(28,12))), p -> p is not null),"
        "   cast(0 as decimal(38,12)),"
        "   (a, b) -> cast(a + b as decimal(38,12))) as double) AS d2,"
        " cl AS cell)))"
    )


def _load_embeddings(spark, sf_dir):
    """Embeddings restricted to the oracles' implicit domain: the
    relational dims-explosion (``unnest``) drops empty/null vectors
    entirely, while the in-row rewrites would emit rows (bucket 0 /
    null cosine) for them — filter them out so the Spark and oracle
    domains stay identical on any input (ADVICE r01; fixture vectors
    are all length-64 non-null, so this is a no-op there)."""
    return load(spark, sf_dir, "embeddings").filter(F.size("embedding") > 0)


def _sign_bucket_expr(col_name: str = "embedding"):
    """Sign-LSH bucket from the first 8 dims, in-row (matches
    _SIGN_BUCKET_SQL: sum of 2^(pos-1) where v >= 0)."""
    return F.expr(
        f"aggregate(transform(slice({col_name}, 1, 8),"
        " (x, i) -> IF(CAST(x AS DOUBLE) >= 0,"
        " CAST(pow(2, i) AS BIGINT), 0L)), 0L, (a, b) -> a + b)"
    )


@query(
    "q21_cosine_topk",
    _EMB_DIMS_CTE
    + """
    , dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(CAST(q.v * c.v AS DECIMAL(28,12))) AS DOUBLE) AS dot
      FROM dims q JOIN dims c ON q.pos = c.pos AND q.vec_id < 5
                                AND c.vec_id <> q.vec_id
      GROUP BY 1, 2
    ), scored AS (
      SELECT query_id, neighbor_id,
             (floor(dot / (nq.nrm * nc.nrm) * 1000000.0) / 1000000.0) AS cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY (floor(dot / (nq.nrm * nc.nrm) * 1000000.0) / 1000000.0) DESC,
                        neighbor_id ASC) AS rn
      FROM dots JOIN norms nq ON nq.vec_id = dots.query_id
                JOIN norms nc ON nc.vec_id = dots.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rn FROM scored WHERE rn <= 5
    """,
)
def q21(spark, sf_dir):
    # Brute-force cosine top-k — the correctness baseline for ANN.
    # Spark-first scale shape: the 5 query vectors are BROADCAST with
    # their arrays intact and every dot product is computed IN-ROW
    # (zip_with + exact decimal fold) — one map-side pass over the
    # corpus, no dims explosion, no join on pos, no re-aggregation.
    # The oracle replays the same arithmetic relationally in DuckDB.
    e = _load_embeddings(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _nrm_dec(F.col("embedding")).alias("q_nrm"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        _nrm_dec(F.col("embedding")).alias("c_nrm"),
    )
    cos = (
        F.floor(
            _dot_dec(F.col("q_emb"), F.col("c_emb"))
            / (F.col("q_nrm") * F.col("c_nrm"))
            * 1000000.0
        )
        / 1000000.0
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)


_SIGN_BUCKET_SQL = """
    buckets AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN v >= 0 THEN CAST(pow(2, pos - 1) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS bucket
      FROM dims WHERE pos <= 8 GROUP BY vec_id
    )
"""


def _bucketed_cos_pairs(spark, sf_dir):
    """Shared scale path for q22/q34: sign-LSH bucket equi-join with
    the embedding arrays carried in-row; cosine computed per pair with
    zip_with + exact decimal fold. ONE shuffle (the bucket join key);
    no dims explosion, no pos-join, no per-pair re-aggregation."""
    e = _load_embeddings(spark, sf_dir).select(
        "vec_id",
        "embedding",
        _sign_bucket_expr().alias("bucket"),
        _nrm_dec(F.col("embedding")).alias("nrm"),
    )
    a = e.alias("a")
    b = e.alias("b")
    cos = (
        F.floor(
            _dot_dec(F.col("a.embedding"), F.col("b.embedding"))
            / (F.col("a.nrm") * F.col("b.nrm"))
            * 1000000.0
        )
        / 1000000.0
    )
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos_sim"),
        )
    )


@query(
    "q22_ann_bucket_neighbors",
    _EMB_DIMS_CTE
    + ","
    + _SIGN_BUCKET_SQL
    + """
    , dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             CAST(SUM(CAST(da.v * db.v AS DECIMAL(28,12))) AS DOUBLE) AS dot
      FROM buckets a JOIN buckets b
           ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      JOIN dims da ON da.vec_id = a.vec_id
      JOIN dims db ON db.vec_id = b.vec_id AND db.pos = da.pos
      GROUP BY 1, 2
    ), scored AS (
      SELECT vec_a, vec_b,
             (floor(dot / (na.nrm * nb.nrm) * 1000000.0) / 1000000.0) AS cos_sim
      FROM dots JOIN norms na ON na.vec_id = vec_a
                JOIN norms nb ON nb.vec_id = vec_b
    ), ranked AS (
      SELECT vec_a AS vec_id, vec_b AS nn_id, cos_sim FROM scored
      UNION ALL
      SELECT vec_b, vec_a, cos_sim FROM scored
    )
    SELECT vec_id, nn_id, cos_sim FROM (
      SELECT vec_id, nn_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, nn_id ASC) AS rn
      FROM ranked) WHERE rn = 1
    """,
)
def q22(spark, sf_dir):
    # ANN scale path: sign-LSH buckets bound the candidate set; cosine
    # is computed only within buckets (bucket equi-join), then each
    # vector keeps its best in-bucket neighbor — the near-dup candidate
    # list at 10^12 scale (bucket join ≪ all-pairs).
    scored = _bucketed_cos_pairs(spark, sf_dir)
    ranked = scored.select(
        F.col("vec_a").alias("vec_id"), F.col("vec_b").alias("nn_id"), "cos_sim"
    ).unionAll(
        scored.select(
            F.col("vec_b").alias("vec_id"), F.col("vec_a").alias("nn_id"), "cos_sim"
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), F.asc("nn_id"))
    return (
        ranked.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "nn_id", "cos_sim")
    )


@query(
    "q23_bucket_histogram",
    _EMB_DIMS_CTE
    + ","
    + _SIGN_BUCKET_SQL
    + """
    SELECT bucket, COUNT(*) AS n_vectors FROM buckets GROUP BY bucket
    """,
)
def q23(spark, sf_dir):
    # Bucket-size histogram: the skew diagnostic for the ANN path (a
    # hot bucket is exactly the salting trigger at scale). Bucket ids
    # computed in-row — one map pass + one tiny groupBy.
    e = _load_embeddings(spark, sf_dir)
    return (
        e.select(_sign_bucket_expr().alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"))
    )


@query(
    "q33_ivf_assign",
    _EMB_DIMS_CTE
    + """
    , cents AS (SELECT vec_id AS cell, pos, v FROM dims WHERE vec_id < 16),
    dists AS (
      SELECT d.vec_id, c.cell,
             CAST(SUM(CAST((d.v - c.v) * (d.v - c.v) AS DECIMAL(28,12))) AS DOUBLE)
               AS d2
      FROM dims d JOIN cents c ON c.pos = d.pos
      WHERE d.vec_id >= 16
      GROUP BY 1, 2
    )
    SELECT vec_id, cell,
           (floor(sqrt(d2) * 1000000.0) / 1000000.0) AS dist
    FROM (SELECT vec_id, cell, d2,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY d2 ASC, cell ASC) AS rn
          FROM dists)
    WHERE rn = 1
    """,
)
def q33(spark, sf_dir):
    # IVF coarse quantization: assign each vector to its nearest of 16
    # deterministic centroids (vectors 0..15 as seeds). The centroids
    # are COLLECTED to the driver (16 rows — a dimension-table collect,
    # the same cost class as a broadcast) and inlined as array literals,
    # so each corpus row computes all 16 squared distances IN-ROW
    # (zip_with + exact decimal fold) and takes the argmin with
    # array_min over (d2, cell) structs. The whole query is ONE
    # map-only pass: the previous formulation's 16x row fan-out and
    # per-vector argmin WINDOW (a full 16x-corpus shuffle at scale) are
    # gone. struct ordering = (d2 asc, cell asc) — the oracle's exact
    # tie-break. Exact DECIMAL sums keep Spark == DuckDB.
    e = _load_embeddings(spark, sf_dir)
    cent_rows = sorted(
        (int(r.vec_id), [float(v) for v in r.embedding])
        for r in e.filter(F.col("vec_id") < 16)
        .select("vec_id", "embedding")
        .collect()
    )
    best = F.element_at(_cent_dist_arr(cent_rows), 1)
    return (
        e.filter(F.col("vec_id") >= 16)
        .select("vec_id", best.alias("best"))
        .select(
            "vec_id",
            F.col("best.cell").alias("cell"),
            (F.floor(F.sqrt("best.d2") * 1000000.0) / 1000000.0).alias("dist"),
        )
    )


# =====================================================================
# Span round-trip, multimodal metadata, MIME routing
# =====================================================================

@query(
    "q24_span_roundtrip",
    """
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           trim(regexp_replace(text, '\\s+', ' ', 'g')) AS rebuilt
    FROM documents
    """,
)
def q24(spark, sf_dir):
    # Explode → reassemble integrity (B2+B8): chunk each doc into
    # 10-token spans, explode, then rebuild from (pos, chunk) — the
    # oracle is the identity, so any ordering bug breaks equality.
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.regexp_replace("text", r"\s+", " ")), " ")
    chunks = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size(toks) / 10).cast("int") - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * 10 + 1, 10)),
    )
    exploded = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.posexplode(chunks).alias("pos", "chunk"),
    )
    return exploded.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s.chunk,
            ),
            " ",
        ).alias("rebuilt")
    )


@query(
    "q25_media_bytes",
    """
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(SUM(length(to_base64(encode(text)))) AS BIGINT) AS total_b64_chars
    FROM documents GROUP BY source
    """,
)
def q25(spark, sf_dir):
    # Multimodal plumbing: opaque binary payloads carry typed metadata;
    # byte-length accounting per source (binary column exercised JVM-side).
    # A8 (base64 payload encode, reference ollama_backend.py:98-101) is
    # exercised via the built-in F.base64. Spark 4.x emits MIME-chunked
    # base64 (CRLF every 76 chars) while DuckDB's to_base64 is unchunked
    # RFC-4648, so strip the chunk markers before measuring — the
    # unchunked length is the cross-engine invariant.
    d = load(spark, sf_dir, "documents")
    raw = F.encode("text", "UTF-8")
    b64 = F.regexp_replace(F.base64(raw), "[\\r\\n]", "")
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length(raw)).alias("total_bytes"),
        F.sum(F.length(b64)).alias("total_b64_chars"),
    )


@query(
    "q26_mime_route",
    """
    SELECT CASE
             WHEN CAST(substr(source, 4) AS INT) % 4 = 0 THEN 'application/pdf'
             WHEN CAST(substr(source, 4) AS INT) % 4 = 1 THEN 'text/html'
             WHEN CAST(substr(source, 4) AS INT) % 4 = 2 THEN 'image/png'
             ELSE 'text/plain'
           END AS mime,
           COUNT(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def q26(spark, sf_dir):
    # A3/A4 analog: extension→MIME routing as a when/otherwise
    # expression (reference _prepare_file allow-list + MIME map,
    # cloud_client.py:269-311).
    d = load(spark, sf_dir, "documents")
    n = F.substring("source", 4, 10).cast("int")
    mime = (
        F.when(n % 4 == 0, "application/pdf")
        .when(n % 4 == 1, "text/html")
        .when(n % 4 == 2, "image/png")
        .otherwise("text/plain")
    )
    return d.groupBy(mime.alias("mime")).agg(F.count("*").alias("n_docs"))


# =====================================================================
# Structured extraction (A9-A11): JSON payload → typed columns
# =====================================================================

# Deterministic model-output payloads synthesized from doc_id: fenced
# JSON, bare form JSON, JSON wrapped in prose, and malformed JSON — the
# four shapes the reference's _parse_json handles (extractor.py:110-130).
_PAYLOAD_SQL = """
    WITH base AS (
      SELECT doc_id,
             '{"type":"invoice","invoice_number":"INV-' || doc_id ||
             '","date":"2024-01-15","items":[{"p":"a"},{"p":"b"}],"totals":{"gross":'
             || CAST(doc_id % 100 AS VARCHAR) || '.25}}' AS inv
      FROM documents
    ), payloads AS (
      SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN chr(96)||chr(96)||chr(96)||'json'||chr(10)|| inv ||chr(10)||chr(96)||chr(96)||chr(96)
               WHEN 1 THEN '{"type":"form","title":"Formular ' || doc_id ||
                           '","fields":[{"name":"f1"},{"name":"f2"}]}'
               WHEN 2 THEN 'Ergebnis: ' || inv || ' Ende.'
               ELSE '{"type":"invoice","invoice_number": KAPUTT'
             END AS raw_response
      FROM base
    ), cleaned AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(raw_response, '^\\s*```(json)?\\s*', ''),
                            '\\s*```\\s*$', '') AS nofence
      FROM payloads
    ), chosen AS (
      SELECT doc_id,
             CASE WHEN length(regexp_extract(nofence, '(\\{[\\s\\S]*\\})', 1)) > 0
                  THEN regexp_extract(nofence, '(\\{[\\s\\S]*\\})', 1)
                  ELSE nofence END AS js
      FROM cleaned
    )
    SELECT doc_id,
           CASE WHEN json_valid(js)
                THEN coalesce(json_extract_string(js, '$.type'), 'document') END
             AS doc_type,
           json_valid(js) AS success,
           CASE WHEN json_valid(js)
                THEN json_extract_string(js, '$.invoice_number') END AS invoice_number,
           CASE WHEN json_valid(js)
                THEN CAST(json_array_length(js, '$.items') AS INT) END AS n_items,
           CASE WHEN json_valid(js)
                THEN CAST(json_extract(js, '$.totals.gross') AS DOUBLE) END AS gross,
           CASE WHEN json_valid(js)
                THEN json_extract_string(js, '$.title') END AS title
    FROM chosen
"""


def _payloads(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    inv = F.concat(
        F.lit('{"type":"invoice","invoice_number":"INV-'),
        F.col("doc_id").cast("string"),
        F.lit('","date":"2024-01-15","items":[{"p":"a"},{"p":"b"}],"totals":{"gross":'),
        (F.col("doc_id") % 100).cast("string"),
        F.lit(".25}}"),
    )
    m = F.col("doc_id") % 4
    payload = (
        F.when(m == 0, F.concat(F.lit("```json\n"), inv, F.lit("\n```")))
        .when(
            m == 1,
            F.concat(
                F.lit('{"type":"form","title":"Formular '),
                F.col("doc_id").cast("string"),
                F.lit('","fields":[{"name":"f1"},{"name":"f2"}]}'),
            ),
        )
        .when(m == 2, F.concat(F.lit("Ergebnis: "), inv, F.lit(" Ende.")))
        .otherwise(F.lit('{"type":"invoice","invoice_number": KAPUTT'))
    )
    return d.select("doc_id", payload.alias("raw_response"))


@query("q27_structured_extract", _PAYLOAD_SQL)
def q27(spark, sf_dir):
    """A9-A11 end to end: fence strip → lenient from_json (corrupt
    detection) → type dispatch → typed fields with defaults — one
    WholeStageCodegen select chain, no Python (reference does this
    per-doc in extractor.py:110-223)."""
    from .operators.structured import structured_extract

    out = structured_extract(_payloads(spark, sf_dir))
    return out.select(
        "doc_id",
        "doc_type",
        "success",
        F.col("data.invoice_number").alias("invoice_number"),
        F.size("data.items").alias("n_items"),
        F.col("data.totals")["gross"].alias("gross"),
        F.col("data.title").alias("title"),
    )


# =====================================================================
# SimHash near-dup: 16-bit signatures + banded candidate pairs
# =====================================================================

_SH_BITS = 48

# SimHash LSH band sizing — SCALE PARAMETERS, not magic numbers.
# Bands of SH_BAND_BITS bits each: expected bucket size is
# n / 2^SH_BAND_BITS, and each band's self-join emits
# ~n^2 / 2^SH_BAND_BITS candidate pairs in total, so band bits must
# GROW with corpus size: pick SH_BAND_BITS ≈ log2(n / target_bucket),
# e.g. 12 bits for 10^5-10^6 docs (buckets of ~25-250), 30+ bits for
# 10^12 (composing several signature slices into one key). Fewer,
# wider bands trade recall for pair volume exactly like MinHash
# banding (b bands of r bits ⇒ P(candidate) = 1-(1-p^r)^b).
# q41_simhash_band_histogram is the live skew diagnostic: its max
# bucket size tells you when to raise SH_BAND_BITS.
SH_BAND_BITS = 12
SH_N_BANDS = 4

_SH_TOK = """
    WITH tok AS (
      SELECT DISTINCT CAST(doc_id AS VARCHAR) AS doc_id,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ), th AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 12))::BIGINT AS h FROM tok
    )
"""


def _simhash_sql_expr() -> str:
    bits = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) >= 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(_SH_BITS)
    )
    return bits


def _simhash_df(spark, sf_dir):
    # The whole signature IN-ROW, zero shuffles: a document's distinct
    # tokens (array_distinct — one row, so per-doc distinct needs no
    # global distinct shuffle) hash to an in-row long array; each bit's
    # majority vote is a size(filter(...)) over that array. q28 becomes
    # a pure map-only plan; q29 shuffles only at the band self-join.
    d = load(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split(F.trim("text"), r"\s+"))
    hs = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("long")
    )
    df = d.select(F.col("doc_id").cast("string").alias("doc_id"), hs.alias("hs"))
    sig = None
    n = F.size("hs")
    for b in range(_SH_BITS):
        ones = F.size(
            F.filter("hs", lambda h: F.shiftright(h, b).bitwiseAND(1) == 1)
        )
        # majority of (+1 per set bit, -1 per clear bit) >= 0  ⇔  2*ones >= n
        term = F.when(ones * 2 >= n, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return df.select("doc_id", sig.cast("long").alias("simhash"))


@query(
    "q28_simhash_signatures",
    _SH_TOK + f"SELECT doc_id, {_simhash_sql_expr()} AS simhash FROM th GROUP BY doc_id",
)
def q28(spark, sf_dir):
    return _simhash_df(spark, sf_dir)


def _sh_bands_sql() -> str:
    """Band CTE generated from (SH_N_BANDS, SH_BAND_BITS) so the oracle
    can never drift from the Spark band layout."""
    mask = (1 << SH_BAND_BITS) - 1
    selects = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, simhash, {i} AS band, "
        f"(simhash >> {SH_BAND_BITS * i}) & {mask} AS key FROM sig"
        for i in range(SH_N_BANDS)
    )
    return f"bands AS (\n      {selects}\n    )"


def _sh_bands_df(spark, sf_dir):
    """(doc_id, simhash, band, key): all SH_N_BANDS band keys from ONE
    posexplode pass over an in-row array (pos IS the band id) — no
    N-way union re-reading the signature subtree."""
    mask = (1 << SH_BAND_BITS) - 1
    sig = _simhash_df(spark, sf_dir)
    return sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", SH_BAND_BITS * i)
                    .bitwiseAND(mask)
                    .cast("long")
                    for i in range(SH_N_BANDS)
                ]
            )
        ).alias("band", "key"),
    )


@query(
    "q29_simhash_near_dups",
    _SH_TOK
    + f"""
    , sig AS (SELECT doc_id, {_simhash_sql_expr()} AS simhash FROM th GROUP BY doc_id),
    {_sh_bands_sql()}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) AS hamming
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) <= 3
    """,
)
def q29(spark, sf_dir):
    # Banded SimHash LSH: SH_N_BANDS bands of SH_BAND_BITS bits bound
    # the candidate join (collision prob 2^-SH_BAND_BITS per band vs
    # all-pairs n^2); hamming distance verified with bit_count(xor)
    # JVM-side. Band sizing rule at the constants' definition.
    bands = _sh_bands_df(spark, sf_dir)
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).alias("hamming")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming,
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


@query(
    "q41_simhash_band_histogram",
    _SH_TOK
    + f"""
    , sig AS (SELECT doc_id, {_simhash_sql_expr()} AS simhash FROM th GROUP BY doc_id),
    {_sh_bands_sql()}
    SELECT band, key, COUNT(*) AS n_docs FROM bands GROUP BY band, key
    """,
)
def q41(spark, sf_dir):
    # Band-bucket histogram for the SimHash LSH (q23 pattern applied to
    # q29): the live skew diagnostic proving the SH_BAND_BITS sizing —
    # max(n_docs) is the largest self-join bucket; when it outgrows the
    # target (~n / 2^SH_BAND_BITS), raise SH_BAND_BITS. One map pass +
    # one small groupBy; at 100 TB the histogram itself is tiny
    # (≤ SH_N_BANDS * 2^SH_BAND_BITS rows).
    return (
        _sh_bands_df(spark, sf_dir)
        .groupBy("band", "key")
        .agg(F.count("*").alias("n_docs"))
    )


# Iteration cap for the connected-components contraction loop. Each
# round contracts every node into its local-minimum representative and
# rebuilds the graph over representatives, so the edge count drops
# geometrically (measured on the sf0.1 near-dup graph: 409k → 1,149 →
# 1 → 0 edges in three rounds); the cap exists only to turn a logic
# bug into a loud error instead of an infinite loop.
CC_MAX_ITERS = 50


# Shared oracle fragment: SimHash near-dup edges + recursive closure
# (used by q42 and the q112 split audit — ONE spelling, so the
# component semantics can never drift between them).
_SH_CC_CTES = f"""
    , sig AS (SELECT doc_id, {_simhash_sql_expr()} AS simhash FROM th GROUP BY doc_id),
    {_sh_bands_sql()},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      WHERE bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) <= 3
    ),
    sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs),
    reach(src, dst) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM sym)
      UNION
      SELECT r.src, s.b FROM reach r JOIN sym s ON s.a = r.dst
    )
"""


@query(
    "q42_dedup_components",
    _SH_TOK.replace("WITH ", "WITH RECURSIVE ", 1)
    + _SH_CC_CTES
    + "SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src",
)
def q42(spark, sf_dir):
    """Dedup cluster resolution: connected components over the SimHash
    near-dup graph (q29's edges), labelling every involved document
    with its component's minimum doc_id — the step that turns pairwise
    near-dup EDGES (q20/q29/q34) into the per-cluster keep/drop
    decision a training-data pipeline actually executes.

    Spark shape: CONTRACTION, not plain label propagation. Near-dup
    components are dense near-cliques (template families: at sf0.1 the
    q29 graph has 409k pair edges over only 3.6k nodes), so a
    propagate-only loop pays the full-graph join every round. Instead,
    each round (a) labels every node with the min of itself and its
    direct neighbours (one union + map-side-combining MIN groupBy —
    no join), (b) path-compresses the labels twice (label-of-label
    self-joins on the small per-node label table), then (c) CONTRACTS:
    maps both edge endpoints through the labels and keeps the distinct
    non-loop representative edges. Cliques collapse in one round, so
    the graph shrinks geometrically (409k → 1,149 → 1 → 0 edges) and
    every round after the first runs on a tiny contracted graph —
    that, not O(diameter) propagation, is what survives a 10^12-edge
    corpus. Rounds are cut with ``materialize`` (reliable checkpoint
    when a checkpoint dir is configured, localCheckpoint otherwise) so each
    plan starts from the previous round's result instead of replaying
    the whole lineage (on a production cluster use reliable
    ``checkpoint(dir)`` for fault tolerance). The oracle is the same
    closure as a DuckDB recursive CTE. Singleton documents (no
    near-dup edge) are excluded by construction — their component is
    the identity and would only inflate the output."""
    edges = q29(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(edges).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )


def connected_components(edges: DataFrame) -> DataFrame:
    """Contraction-based connected components over an undirected edge
    list ``(doc_a, doc_b)`` → ``(node, comp)`` where ``comp`` is the
    component's minimum node id. See q42's docstring for the scale
    shape and convergence argument.

    Correctness of the min-representative chain: the globally minimal
    node of a component always labels itself (min of self and
    neighbours), so it survives every contraction as its own
    representative; every other node's label chain ends at it once the
    component has fully contracted, and the ``mapping`` composition
    applies each round's relabeling to the original node ids."""
    mapping = None
    cur = edges.filter("doc_a <> doc_b").transform(materialize)
    for _ in range(CC_MAX_ITERS):
        sym = cur.selectExpr("doc_a AS node", "doc_b AS nbr").union(
            cur.selectExpr("doc_b AS node", "doc_a AS nbr")
        )
        # (a) min over self ∪ neighbours: union + partial-agg MIN, no join
        labels = (
            sym.select("node", F.col("nbr").alias("c"))
            .unionByName(sym.select("node", F.col("node").alias("c")))
            .groupBy("node")
            .agg(F.min("c").alias("comp"))
        )
        # (b) two rounds of path compression on the small label table
        for _ in range(2):
            l2 = labels.select(F.col("node").alias("pn"), F.col("comp").alias("pc"))
            labels = labels.join(l2, labels.comp == l2.pn, "left").select(
                "node", F.coalesce("pc", "comp").alias("comp")
            )
        labels = labels.transform(materialize)
        # compose this round's relabeling onto the original-node mapping
        if mapping is None:
            mapping = labels
        else:
            lm = labels.select(F.col("node").alias("ln"), F.col("comp").alias("lc"))
            mapping = (
                mapping.join(lm, mapping.comp == lm.ln, "left")
                .select("node", F.coalesce("lc", "comp").alias("comp"))
                .transform(materialize)
            )
        # (c) contract: edges between representatives, loops dropped
        la = labels.select(F.col("node").alias("an"), F.col("comp").alias("ac"))
        lb = labels.select(F.col("node").alias("bn"), F.col("comp").alias("bc"))
        cur = (
            cur.join(la, cur.doc_a == la.an)
            .join(lb, cur.doc_b == lb.bn)
            .select(F.col("ac").alias("doc_a"), F.col("bc").alias("doc_b"))
            .filter("doc_a <> doc_b")
            .distinct()
            .transform(materialize)
        )
        if cur.isEmpty():
            return mapping
    raise RuntimeError(
        f"connected components did not converge in {CC_MAX_ITERS} rounds"
    )


@query(
    "q43_canonical_corpus",
    f"""
    WITH grp AS (
      SELECT {textstats.fingerprint_sql('text')} AS fp,
             MIN(doc_id) AS keeper, COUNT(*) AS n_dups
      FROM documents GROUP BY 1
    )
    SELECT d.doc_id, d.source, g.n_dups
    FROM documents d JOIN grp g ON d.doc_id = g.keeper
    """,
)
def q43(spark, sf_dir):
    """Canonical corpus materialization: the document set that remains
    after exact dedup — one representative (minimum doc_id) per
    canonical-text fingerprint group, carrying the group size so the
    curation report can account for every dropped row. This is the
    step q17 (group discovery) feeds: the output a training run
    actually reads.

    Spark shape: the q17 fingerprint groupBy (map-side partial agg on
    the 16-byte md5 key — one shuffle) followed by an equi-join of the
    keeper list back to the corpus on doc_id. At sf the keeper list is
    broadcast by AQE; at 10^12 rows the same plan degrades to a
    co-partitioned hash join on doc_id — the layout `write_bucketed`
    already provides, so the production materialization is
    shuffle-free on the corpus side. Near-dup removal composes the
    same way: q42's component labels anti-joined on doc_id drop
    non-representative near-dup members."""
    d = load(spark, sf_dir, "documents")
    keep = d.groupBy(
        textstats.fingerprint_col(F.col("text")).alias("fp")
    ).agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_dups"))
    return d.join(keep.select("doc_id", "n_dups"), "doc_id").select(
        "doc_id", "source", "n_dups"
    )


# IVF search scale parameters. NPROBE trades recall for scan cost: the
# searcher reads NPROBE of the IVF_N_CELLS inverted lists, i.e. about
# NPROBE/IVF_N_CELLS of the corpus per query. 4/16 here; production
# sizing grows IVF_N_CELLS with sqrt(corpus) (keeping cell lists
# roughly constant-sized) and tunes NPROBE to the recall target.
IVF_N_CELLS = 16
IVF_NPROBE = 4
IVF_TOP_K = 5


def _ivf_assign_probes(spark, sf_dir):
    """The two IVF relations q44 searches over, shared with the staged
    100 TB path (`operators/staged_ivf.py`): `assign` — every corpus
    vector tagged with its nearest-centroid cell (map-only: centroids
    are inlined literals, q33's pattern) — and `probes` — each query
    vector exploded to its IVF_NPROBE nearest cells. One definition so
    the inline search and the staged inverted-list layout can never
    disagree on cell assignment."""
    e = _load_embeddings(spark, sf_dir)
    cent_rows = sorted(
        (int(r.vec_id), [float(v) for v in r.embedding])
        for r in e.filter(F.col("vec_id") < IVF_N_CELLS)
        .select("vec_id", "embedding")
        .collect()
    )
    dist_arr = _cent_dist_arr(cent_rows)  # (d2 asc, cell asc)
    corpus = e.filter(F.col("vec_id") >= IVF_N_CELLS)
    assign = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.element_at(dist_arr, 1).getField("cell").alias("cell"),
        F.col("embedding").alias("c_emb"),
        _nrm_dec(F.col("embedding")).alias("c_nrm"),
    )
    probes = (
        corpus.filter(F.col("vec_id") <= IVF_N_CELLS + 4)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            _nrm_dec(F.col("embedding")).alias("q_nrm"),
            F.explode(
                F.transform(
                    F.slice(dist_arr, 1, IVF_NPROBE), lambda s: s.getField("cell")
                )
            ).alias("cell"),
        )
    )
    return assign, probes


def _ivf_search(assign, probes):
    """Probe-cell broadcast join + exact-decimal cosine + per-query
    top-k — identical downstream for the inline (q44) and staged
    (`operators/staged_ivf.py`) assignment relations."""
    cos = (
        F.floor(
            _dot_dec(F.col("q_emb"), F.col("c_emb"))
            / (F.col("q_nrm") * F.col("c_nrm"))
            * 1000000.0
        )
        / 1000000.0
    )
    scored = assign.join(
        F.broadcast(probes),
        (assign["cell"] == probes["cell"])
        & (F.col("neighbor_id") != F.col("query_id")),
    ).select("query_id", "neighbor_id", cos.alias("cos_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= IVF_TOP_K
    )


@query(
    "q44_ivf_topk_search",
    _EMB_DIMS_CTE
    + f"""
    , cents AS (SELECT vec_id AS cell, pos, v FROM dims WHERE vec_id < {IVF_N_CELLS}),
    cdists AS (
      SELECT d.vec_id, c.cell,
             CAST(SUM(CAST((d.v - c.v) * (d.v - c.v) AS DECIMAL(28,12))) AS DOUBLE)
               AS d2
      FROM dims d JOIN cents c ON c.pos = d.pos
      WHERE d.vec_id >= {IVF_N_CELLS}
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
      FROM cdists
    ),
    assign AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, cell FROM ranked
      WHERE rn <= {IVF_NPROBE} AND vec_id BETWEEN {IVF_N_CELLS} AND {IVF_N_CELLS + 4}
    ),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
    ),
    dots AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(SUM(CAST(q.v * n.v AS DECIMAL(28,12))) AS DOUBLE) AS dot
      FROM cand c
      JOIN dims q ON q.vec_id = c.query_id
      JOIN dims n ON n.vec_id = c.neighbor_id AND n.pos = q.pos
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             (floor(dot / (nq.nrm * nc.nrm) * 1000000.0) / 1000000.0) AS cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY (floor(dot / (nq.nrm * nc.nrm) * 1000000.0) / 1000000.0) DESC,
                        neighbor_id ASC) AS rn
      FROM dots JOIN norms nq ON nq.vec_id = dots.query_id
                JOIN norms nc ON nc.vec_id = dots.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rn FROM scored WHERE rn <= {IVF_TOP_K}
    """,
)
def q44(spark, sf_dir):
    """IVF top-k search — the query-time half of the IVF index whose
    build-time half is q33's coarse quantization: each query probes its
    IVF_NPROBE nearest centroid cells and scans only the vectors
    assigned there (≈NPROBE/N_CELLS of the corpus), then ranks the
    candidates by exact cosine. Together with q21 (brute-force — the
    recall baseline) and q22 (sign-LSH buckets) this completes the ANN
    family: build (q33), search (q44), verify (q21).

    Spark shape: centroids are a 16-row dimension-table collect inlined
    as literals (q33's pattern), so corpus-side cell ASSIGNMENT is
    in-row map-only arithmetic — zero shuffle over the big side. The 5
    query vectors' probe lists (5×NPROBE rows, embeddings carried
    in-row) are computed from the same literals and BROADCAST; the only
    corpus-touching operation is one broadcast-hash equi-join on the
    cell id, then in-row exact-decimal cosine and a per-query top-k
    window over the ~corpus·NPROBE/N_CELLS candidate set. At 10^12 rows
    the same plan holds with the assignment staged once (bucketed by
    cell — the inverted lists ARE that layout, materialized and
    bucket-prune-read in `operators/staged_ivf.py`) and queries
    batched through the identical broadcast join."""
    assign, probes = _ivf_assign_probes(spark, sf_dir)
    return _ivf_search(assign, probes)


# Per-source sampling rates for q45, as two-hex-digit thresholds over
# the md5 keep-hash prefix: a document is kept iff its prefix sorts
# below the threshold, so 'ff' ≈ 100%, '80' ≈ 50%, '29' ≈ 16%, '0a'
# ≈ 3.9%. Hex-STRING comparison (not integer parsing) is the trick
# that makes the rule bit-identical across engines — both Spark and
# DuckDB md5() return lowercase hex and compare ASCII-wise.
Q45_SOURCE_RATES = {"src0": "ff", "src1": "0a", "src2": "29"}
Q45_DEFAULT_RATE = "40"
Q45_VAL_THRESHOLD = "0d"  # ≈5% of kept docs become validation


def _q45_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{s}' THEN '{r}'" for s, r in sorted(Q45_SOURCE_RATES.items())
    )
    return f"CASE source {whens} ELSE '{Q45_DEFAULT_RATE}' END"


@query(
    "q45_hash_sample",
    f"""
    SELECT doc_id, source,
           CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
                     < '{Q45_VAL_THRESHOLD}'
                THEN 'val' ELSE 'train' END AS split
    FROM documents
    WHERE substr(md5('keep:' || CAST(doc_id AS VARCHAR)), 1, 2)
          < {_q45_case_sql()}
    """,
)
def q45(spark, sf_dir):
    """Deterministic stratified corpus sampling + train/val split —
    the mixture-weighting step of a training-data pipeline: each source
    is downsampled to its configured rate and the survivors are split
    into train/val, all decided by salted md5 prefixes of the doc_id so
    the result is reproducible row-by-row with no RNG, no state, and
    no coordination (re-running on a grown corpus keeps every previous
    decision — the property that makes incremental curation possible).

    Spark shape: strictly map-only — one WholeStageCodegen pass of
    md5/substr/CASE over the scan, zero shuffles, embarrassingly
    parallel at any corpus size. The keep- and split-hashes use
    different salts so membership and split are independent; rates are
    two-hex-digit string thresholds compared identically by Spark and
    DuckDB (see Q45_SOURCE_RATES)."""
    d = load(spark, sf_dir, "documents")
    rate = F.lit(Q45_DEFAULT_RATE)
    for s, r in sorted(Q45_SOURCE_RATES.items(), reverse=True):
        rate = F.when(F.col("source") == s, F.lit(r)).otherwise(rate)
    keep_h = F.substring(
        F.md5(F.concat(F.lit("keep:"), F.col("doc_id").cast("string"))), 1, 2
    )
    split_h = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 2
    )
    return (
        d.filter(keep_h < rate)
        .select(
            "doc_id",
            "source",
            F.when(split_h < Q45_VAL_THRESHOLD, F.lit("val"))
            .otherwise(F.lit("train"))
            .alias("split"),
        )
    )


# Decontamination parameters. CONTAM_NGRAM_N is the overlap width: a
# training document is contaminated if it shares ANY word n-gram of
# this length with a held-out eval document. Production pipelines use
# 13 (long enough that shared n-grams are near-certain verbatim
# copies); 8 fits this fixture's ~54-word documents while still being
# far past stop-phrase length, so hits are template copies, not common
# phrases — no df-cap is needed on the EVAL side because a benchmark
# suite is small by construction (that smallness is also what makes
# the join broadcastable). CONTAM_EVAL_THRESHOLD selects ≈16/256 ≈ 6%
# of docs as the stand-in eval set via the same salted-md5 membership
# rule q45 uses (deterministic, engine-identical hex-string compare).
CONTAM_NGRAM_N = 8
CONTAM_EVAL_THRESHOLD = "10"


def _contam_cte() -> str:
    """DuckDB CTE: per-doc distinct hashed word-CONTAM_NGRAM_N-grams
    plus the eval-membership hash prefix, mirroring the in-row Spark
    construction token for token (same md5-prefix 48-bit int64)."""
    parts = " || ' ' || ".join(
        ["tok"] + [f"lead(tok,{i}) OVER w" for i in range(1, CONTAM_NGRAM_N)]
    )
    return f"""
    WITH tok AS (
      SELECT doc_id,
             substr(md5('eval:' || CAST(doc_id AS VARCHAR)), 1, 2) AS eh,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok,
             generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1) AS pos
      FROM documents
    ), ng AS (
      SELECT doc_id, eh, {parts} AS ng
      FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), hng AS (
      SELECT DISTINCT doc_id, eh, ('0x' || substr(md5(ng), 1, 12))::BIGINT AS nh
      FROM ng WHERE ng IS NOT NULL)
    """


@query(
    "q46_decontaminate",
    _contam_cte()
    + f"""
    , ev AS (SELECT doc_id, nh FROM hng WHERE eh < '{CONTAM_EVAL_THRESHOLD}'),
    tr AS (SELECT doc_id, nh FROM hng WHERE eh >= '{CONTAM_EVAL_THRESHOLD}'),
    hits AS (
      SELECT DISTINCT tr.doc_id, ev.doc_id AS eval_doc, tr.nh
      FROM tr JOIN ev ON tr.nh = ev.nh
    )
    SELECT doc_id, COUNT(DISTINCT nh) AS n_shared_ngrams,
           COUNT(DISTINCT eval_doc) AS n_eval_docs
    FROM hits GROUP BY doc_id
    """,
)
def q46(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing any
    verbatim word n-gram with the held-out eval set — the overlap
    check every serious pretraining pipeline runs before training so
    benchmark answers don't leak into the corpus. The eval set here is
    a deterministic salted-hash slice of the corpus (q45's membership
    rule); in production it is the actual benchmark suite. Output: one
    row per contaminated training doc with how many distinct n-grams
    leaked and how many eval docs it collides with.

    Spark shape: n-grams are hashed to 48-bit int64 IN-ROW before the
    explode (q18's trick — 8-byte join keys, and the per-doc
    `array_distinct` happens before anything is exploded), then the
    eval posting list — small by construction, a benchmark suite is
    ~10^5 docs no matter how big the corpus gets — is BROADCAST onto
    the training postings: the corpus-side join is map-only, no
    shuffle of the big side, and the only real shuffle is the final
    per-contaminated-doc groupBy over the (tiny) hit set. No df-cap is
    needed: CONTAM_NGRAM_N is long enough that a hot n-gram IS a
    template copy (exactly what must be flagged), and the fan-out is
    bounded by eval-side df × train-side df of genuinely shared
    8-grams, linear in real contamination."""
    n = CONTAM_NGRAM_N
    elems = ", ".join(f"toks[i{j - 2:+d}]" for j in range(1, n + 1))
    ng_arr = F.expr(
        f"CASE WHEN size(toks) >= {n} THEN "
        f"array_distinct(transform(sequence(1, size(toks) - {n - 1}),"
        f" i -> cast(conv(substring(md5(concat_ws(' ', {elems})), 1, 12),"
        " 16, 10) as bigint))) ELSE array() END"
    )
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.split(F.trim("text"), r"\s+").alias("toks"),
        F.substring(
            F.md5(F.concat(F.lit("eval:"), F.col("doc_id").cast("string"))), 1, 2
        ).alias("eh"),
    )
    posts = d.select("doc_id", "eh", F.explode(ng_arr).alias("nh"))
    ev = posts.filter(F.col("eh") < CONTAM_EVAL_THRESHOLD).select(
        F.col("doc_id").alias("eval_doc"), "nh"
    )
    tr = posts.filter(F.col("eh") >= CONTAM_EVAL_THRESHOLD).select("doc_id", "nh")
    # no .distinct() on hits: countDistinct dedups (doc, nh) and
    # (doc, eval_doc) inside the aggregate, so a separate distinct
    # would only add a full extra shuffle of the hit set
    hits = tr.join(F.broadcast(ev), "nh").select("doc_id", "eval_doc", "nh")
    return hits.groupBy("doc_id").agg(
        F.countDistinct("nh").alias("n_shared_ngrams"),
        F.countDistinct("eval_doc").alias("n_eval_docs"),
    )


# Repetition-filter thresholds (Gopher-style quality rules adapted to
# the fixture's newline-free word-soup texts): a document is dropped
# when its most frequent word exceeds REP_TOP_WORD_MAX of all tokens
# or when more than REP_DUP_2GRAM_MAX of its word bigrams are repeats.
# Values are tuned so the fixture corpus splits into both classes —
# the point is an executable, oracle-checked keep/drop rule, the exact
# constants are policy.
REP_TOP_WORD_MAX = 0.12
REP_DUP_2GRAM_MAX = 0.08


@query(
    "q47_repetition_metrics",
    f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS l
      FROM documents
    ), g AS (
      SELECT doc_id, l, len(l) AS nw,
             CASE WHEN len(l) >= 2
                  THEN list_transform(range(2, len(l) + 1),
                                      i -> l[i-1] || ' ' || l[i])
                  ELSE [] END AS bg
      FROM t
    ), m AS (
      SELECT doc_id, nw,
             {_floor6_sql("1.0 - len(list_distinct(l)) / nw")} AS dup_word_frac,
             {_floor6_sql(
                 "list_max(list_transform(list_distinct(l),"
                 " w -> len(list_filter(l, x -> x = w)))) / nw"
             )} AS top_word_frac,
             CASE WHEN len(bg) > 0
                  THEN {_floor6_sql("1.0 - len(list_distinct(bg)) / len(bg)")}
                  ELSE 0.0 END AS dup_2gram_frac
      FROM g
    )
    SELECT doc_id, nw AS n_words, dup_word_frac, top_word_frac, dup_2gram_frac,
           CASE WHEN top_word_frac <= {REP_TOP_WORD_MAX}
                 AND dup_2gram_frac <= {REP_DUP_2GRAM_MAX}
                THEN 'keep' ELSE 'drop' END AS verdict
    FROM m
    """,
)
def q47(spark, sf_dir):
    """Repetition quality metrics (Gopher-style): per-document
    duplicate-word fraction, most-frequent-word fraction, and
    duplicate-bigram fraction, plus the keep/drop verdict those
    thresholds imply — the repetition leg of corpus curation (q39
    covers quality/langid; this covers degenerate repetitive text,
    the classic failure mode of scraped/boilerplate pages).

    Spark shape: ENTIRELY in-row — every metric is a higher-order
    array expression (`array_distinct`/`filter`/`transform`) over the
    document's own token array, one WholeStageCodegen map pass, zero
    shuffles, zero Python. The top-word count is O(distinct·n) per
    row, bounded by document length — for book-length documents swap
    in the same expression over `slice(toks, 1, K)` or an
    aggregate-fold histogram; the plan shape (map-only) is unchanged.
    `n_words >= 1` always holds here (synth texts are non-blank), so
    the only division guard needed is the empty-bigram case."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    nw = F.size("toks")
    dup_word = _floor6(1.0 - F.size(F.array_distinct("toks")) / nw)
    top_word = _floor6(
        F.expr(
            "array_max(transform(array_distinct(toks),"
            " w -> size(filter(toks, x -> x = w))))"
        )
        / nw
    )
    bg = F.expr(
        "CASE WHEN size(toks) >= 2 THEN "
        "transform(sequence(1, size(toks) - 1),"
        " i -> concat(toks[i-1], ' ', toks[i])) ELSE array() END"
    )
    d = d.withColumn("bg", bg)
    dup_bg = F.when(
        F.size("bg") > 0,
        _floor6(1.0 - F.size(F.array_distinct("bg")) / F.size("bg")),
    ).otherwise(F.lit(0.0))
    out = d.select(
        "doc_id",
        nw.alias("n_words"),
        dup_word.alias("dup_word_frac"),
        top_word.alias("top_word_frac"),
        dup_bg.alias("dup_2gram_frac"),
    )
    return out.withColumn(
        "verdict",
        F.when(
            (F.col("top_word_frac") <= REP_TOP_WORD_MAX)
            & (F.col("dup_2gram_frac") <= REP_DUP_2GRAM_MAX),
            F.lit("keep"),
        ).otherwise(F.lit("drop")),
    )


@query(
    "q48_asof_attribution",
    """
    WITH clicks AS (
      SELECT user_id, ts, MAX(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ), purch AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts, p.value,
           c.click_id, c.ts AS click_ts
    FROM purch p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q48(spark, sf_dir):
    """Last-touch attribution via AS-OF JOIN: every purchase event is
    joined to the most recent click by the same user at or before the
    purchase timestamp (null if the user never clicked before buying) —
    the canonical point-in-time join that relational engines (and
    DuckDB's native ASOF JOIN, used as the oracle) offer but Spark's
    DataFrame API lacks.

    Spark shape: `operators.asof.asof_join` — the union+window
    formulation, NOT a join-filter-groupBy (which would materialize
    every (purchase, earlier-click) pair: quadratic per active user).
    Clicks are first deduped to one per (user_id, ts) (max event_id)
    so the as-of winner is well-defined in both engines; then one
    window shuffle on user_id carries the latest click payload onto
    each purchase row. Two exchanges total (dedup agg + window), each
    moving the events subset exactly once."""
    from .operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return asof_join(
        purch,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        payload={"click_id": "click_id", "click_ts": "ts"},
    )


@query(
    "q49_outage_window_events",
    """
    WITH w AS (
      SELECT event_id AS w_id, ts AS w_start,
             ts + INTERVAL 1 MINUTE AS w_end
      FROM events WHERE event_type = 'error'
    ), pairs AS (
      SELECT e.event_id, e.event_type
      FROM events e JOIN w ON e.ts >= w.w_start AND e.ts < w.w_end
    )
    SELECT event_id, event_type, COUNT(*) AS n_windows
    FROM pairs GROUP BY 1, 2
    """,
)
def q49(spark, sf_dir):
    """Range (interval-containment) join: every error event opens a
    one-minute outage window, and each event is counted into every
    window containing it — the keyless point-in-interval join
    (blast-radius / burst attribution) that a naive Spark expression
    turns into a BroadcastNestedLoopJoin cross product.

    Spark shape: `operators.range_join.range_join` — time bucketized
    at the window width (60 s), windows exploded to their ~2 covered
    buckets, points joined by hash equi-join on the bucket id, exact
    microsecond filter after. Cost is linear in events + true matches;
    a burst of errors is ordinary AQE-splittable join skew, never a
    nested-loop scan. The per-event aggregation keeps the output
    linear in events regardless of window overlap."""
    from .operators.range_join import range_join

    ev = load(spark, sf_dir, "events")
    w = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("w_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 1 MINUTE")).alias("w_end"),
    )
    pts = ev.select("event_id", "event_type", "ts")
    pairs = range_join(pts, w, "ts", "w_start", "w_end", 60)
    return pairs.groupBy("event_id", "event_type").agg(
        F.count("*").alias("n_windows")
    )


# Hot-phrase mining parameters: phrases are word-PHRASE_N-grams, a
# phrase is "hot" when it appears in at least PHRASE_MIN_DF distinct
# documents, and the report keeps the PHRASE_TOP_K hottest. At corpus
# scale the groupBy key should be the hashed phrase (q18's int64 trick)
# with a second tiny join to recover the text of the top-k survivors;
# at report scale the string key keeps the query one pass.
PHRASE_N = 5
PHRASE_MIN_DF = 3
PHRASE_TOP_K = 20


@query(
    "q50_hot_phrases",
    f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok,
             generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1) AS pos
      FROM documents
    ), ng AS (
      SELECT doc_id,
             {" || ' ' || ".join(["tok"] + [f"lead(tok,{i}) OVER w" for i in range(1, PHRASE_N)])} AS phrase
      FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), per AS (SELECT DISTINCT doc_id, phrase FROM ng WHERE phrase IS NOT NULL)
    SELECT phrase, COUNT(*) AS n_docs
    FROM per GROUP BY phrase
    HAVING COUNT(*) >= {PHRASE_MIN_DF}
    ORDER BY n_docs DESC, phrase ASC LIMIT {PHRASE_TOP_K}
    """,
)
def q50(spark, sf_dir):
    """Hot-phrase mining: the corpus's most document-frequent word
    {PHRASE_N}-grams — the boilerplate detector that surfaces template
    headers/footers and licence blurbs for removal before training
    (the corpus-level complement of q47's per-document repetition).

    Spark shape: phrases are built IN-ROW (distinct per doc before
    anything explodes, so a phrase repeated inside one doc costs one
    exploded row), then one map-side-combining groupBy counts document
    frequency and `TakeOrderedAndProject` keeps the top-k — no global
    sort, no window. The df >= PHRASE_MIN_DF filter runs before the
    top-k heap."""
    n = PHRASE_N
    elems = ", ".join(f"toks[i{j - 2:+d}]" for j in range(1, n + 1))
    ph_arr = F.expr(
        f"CASE WHEN size(toks) >= {n} THEN "
        f"array_distinct(transform(sequence(1, size(toks) - {n - 1}),"
        f" i -> concat_ws(' ', {elems}))) ELSE array() END"
    )
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    return (
        d.select("doc_id", F.explode(ph_arr).alias("phrase"))
        .groupBy("phrase")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= PHRASE_MIN_DF)
        .orderBy(F.desc("n_docs"), F.asc("phrase"))
        .limit(PHRASE_TOP_K)
    )


VOCAB_TOP_K = 50


@query(
    "q51_vocab_stats",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ), per AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2
    )
    SELECT tok AS word, CAST(SUM(c) AS BIGINT) AS n_total, COUNT(*) AS n_docs
    FROM per GROUP BY 1
    ORDER BY n_total DESC, word ASC LIMIT {VOCAB_TOP_K}
    """,
)
def q51(spark, sf_dir):
    """Vocabulary statistics: the corpus's top-{VOCAB_TOP_K} words by
    total occurrences, with document frequency — the Zipf head a
    tokenizer-training / stopword-selection step reads.

    Spark shape: per-document word counts are computed IN-ROW first
    (distinct words + per-word count over the doc's own token array),
    so the explode emits one row per (doc, distinct word) — not one
    per token — and the global groupBy then needs only SUM + COUNT
    with map-side partial aggregation, no countDistinct expand. Top-k
    via `TakeOrderedAndProject` (heap, no global sort). At 100 TB the
    word key space is Zipf-skewed but the partial aggs absorb hot
    words per-task before the shuffle — the canonical word-count
    shape."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    pairs = F.expr(
        "transform(array_distinct(toks),"
        " w -> struct(w AS word,"
        " cast(size(filter(toks, x -> x = w)) as bigint) AS c))"
    )
    per = d.select(F.explode(pairs).alias("p")).select("p.word", "p.c")
    return (
        per.groupBy("word")
        .agg(F.sum("c").alias("n_total"), F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_total"), F.asc("word"))
        .limit(VOCAB_TOP_K)
    )


@query(
    "q52_pii_scan",
    f"""
    WITH c AS (
      SELECT source,
             {pii.pii_count_sql('text', 'email')} AS e,
             {pii.pii_count_sql('text', 'iban')} AS i,
             {pii.pii_count_sql('text', 'phone')} AS p
      FROM documents
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(e) AS BIGINT) AS n_emails,
           CAST(SUM(i) AS BIGINT) AS n_ibans,
           CAST(SUM(p) AS BIGINT) AS n_phones,
           CAST(SUM(CASE WHEN e + i + p > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_with_pii
    FROM c GROUP BY source
    """,
)
def q52(spark, sf_dir):
    """PII scan report: per-source counts of email / IBAN / phone
    matches and of documents containing any — the audit a curation
    pipeline runs before (and after) redaction. The synthetic corpus
    is PII-free, so the corpus-level report is the all-clear zeros; the
    nonzero-parity evidence lives in `tests/test_pii.py`, which runs
    this SAME query function AND this same oracle SQL over a planted
    fixture and compares them with the driver-strict comparator.

    Spark shape: map-only regex counting (split-count trick, JVM
    codegen) + one tiny per-source groupBy — the scan cost is one pass
    over the corpus regardless of pattern count. Redaction
    (`pii.pii_redact_col`) is the same map-only shape."""
    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    c = d.select(
        "source",
        pii.pii_count_col(t, "email").alias("e"),
        pii.pii_count_col(t, "iban").alias("i"),
        pii.pii_count_col(t, "phone").alias("p"),
    )
    return c.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("e").alias("n_emails"),
        F.sum("i").alias("n_ibans"),
        F.sum("p").alias("n_phones"),
        F.sum(
            F.when(F.col("e") + F.col("i") + F.col("p") > 0, 1).otherwise(0)
        ).alias("n_docs_with_pii"),
    )


# Passage-level dedup parameters: a passage is a non-overlapping window
# of PASSAGE_W whitespace tokens (the CCNet/RefinedWeb granularity —
# finer than whole-doc dedup, coarser than line dedup, and robust to
# doc-level shuffling of shared boilerplate). A doc whose shared-passage
# fraction reaches PASSAGE_DROP_E6/1e6 is dropped as mostly-duplicated.
PASSAGE_W = 20
PASSAGE_DROP_E6 = 500000


# One shared definition of "a passage" for the report (q53) and the
# scrub materialization (q61): these two queries MUST stay in lockstep
# (the scrub removes exactly what the report counts), so the chunking,
# the hash width, and the join separator live here and nowhere else.
def _passage_chunks_expr(toks: str = "toks", w: int = PASSAGE_W) -> str:
    """SQL expression: the doc's non-overlapping w-word passages, in
    original order, as array<struct<ptext:string>>."""
    return (
        f"transform(sequence(1, cast(ceil(size({toks}) / {w}.0) as int)),"
        f" i -> named_struct("
        f"  'ptext', concat_ws(' ', slice({toks}, (i - 1) * {w} + 1, {w}))))"
    )


def _passage_hash_expr(chunk: str) -> str:
    """SQL expression: 48-bit int64 md5-prefix hash of one passage."""
    return f"cast(conv(substring(md5({chunk}), 1, 12), 16, 10) as bigint)"


def _passage_hashes_expr(toks: str = "toks", w: int = PASSAGE_W) -> str:
    """SQL expression: the doc's DISTINCT passage hashes (ownership /
    document-frequency domain)."""
    return (
        f"array_distinct(transform({_passage_chunks_expr(toks, w)},"
        f" c -> {_passage_hash_expr('c.ptext')}))"
    )


@query(
    "q53_passage_dedup",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok,
             generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1) AS pos
      FROM documents
    ), chunk AS (
      SELECT doc_id, CAST(floor((pos - 1) / {PASSAGE_W}) AS INT) AS ci,
             string_agg(tok, ' ' ORDER BY pos) AS ptext
      FROM tok GROUP BY 1, 2
    ), ph AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(md5(ptext), 1, 12))::BIGINT AS ph
      FROM chunk
    ), cnt AS (SELECT ph, COUNT(*) AS nd FROM ph GROUP BY 1),
    per AS (
      SELECT p.doc_id, COUNT(*) AS n_passages,
             CAST(SUM(CASE WHEN c.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared
      FROM ph p JOIN cnt c USING (ph) GROUP BY 1
    )
    SELECT doc_id, n_passages, n_shared,
           CAST((n_shared * 1000000) // n_passages AS BIGINT)
             AS shared_frac_e6,
           CASE WHEN (n_shared * 1000000) // n_passages >= {PASSAGE_DROP_E6}
                THEN 'drop' ELSE 'keep' END AS verdict
    FROM per
    """,
)
def q53(spark, sf_dir):
    """Passage-level dedup report: each document is chunked IN-ROW into
    non-overlapping {PASSAGE_W}-word passages, passages are hashed to
    int64 (q18's md5-prefix trick), and a document is scored by the
    fraction of its distinct passages that also appear in some other
    document — the sub-document dedup granularity (CCNet / RefinedWeb
    style) that whole-doc fingerprints (q17) and near-dup signatures
    (q28/q29) both miss when boilerplate is embedded in otherwise-unique
    pages.

    Spark shape: chunking + hashing + per-doc distinct all happen in-row
    BEFORE the explode, so the exploded relation has one row per
    (doc, distinct passage) — never one per token. The cross-doc
    document-frequency is a count window over the 8-byte passage hash
    (partial-agg-friendly, Zipf-hot boilerplate passages are exactly the
    keys AQE skew-splits), and the report is one groupBy(doc_id) over
    rows that are already passage-granular. Exact integer e6 fractions —
    no float crosses the engine boundary."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    per = d.select(
        "doc_id", F.explode(F.expr(_passage_hashes_expr())).alias("ph")
    )
    shared = (
        (F.count("*").over(Window.partitionBy("ph")) > 1).cast("int")
    )
    tagged = per.select("doc_id", "ph", shared.alias("shared"))
    res = tagged.groupBy("doc_id").agg(
        F.count("*").alias("n_passages"),
        F.sum("shared").cast("bigint").alias("n_shared"),
    )
    frac = F.expr("(n_shared * 1000000) div n_passages")
    return res.select(
        "doc_id",
        "n_passages",
        "n_shared",
        frac.alias("shared_frac_e6"),
        F.when(frac >= PASSAGE_DROP_E6, F.lit("drop"))
        .otherwise(F.lit("keep"))
        .alias("verdict"),
    )


@query(
    "q54_interleaved_audit",
    f"""
    SELECT CASE doc_id % 7
             WHEN 3 THEN 'OFFSET_ORDER'
             WHEN 6 THEN 'KIND_DOMAIN'
             WHEN 5 THEN 'MEDIA_REF'
             ELSE 'OK'
           END AS status,
           COUNT(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def q54(spark, sf_dir):
    """Interleaved-span integrity audit — the data-quality gate a
    10^12-document interleaved corpus runs before extraction: per
    document, verify (a) span offsets are strictly increasing (the
    reassembly order contract, BASELINE.json input_hint), (b) every
    span kind is in the closed SPAN_KINDS domain (the reference's enum
    validation, cloud_client.py:352-367, as a row-level check), and
    (c) media_ref is populated exactly on media ('image') spans.
    Violations are planted deterministically by doc_id so the relational
    oracle derives the expected report independently while the Spark
    side actually executes the array predicates over constructed span
    arrays (the q40 pattern).

    Spark shape: every check is an in-row higher-order-function
    predicate over the spans array — no explode, no join, zero corpus
    shuffle; the audit report is one tiny groupBy over a 4-value status
    column. At 100 TB this is a single map pass."""
    kinds_sql = ", ".join(f"'{k}'" for k in SPAN_KINDS)
    d = load(spark, sf_dir, "documents")
    # residue-3 docs violate monotonicity by REPEATING offset 10 on the
    # third span (offsets 0, 10, 10); all other docs get 0, 10, 20
    off1 = F.lit(10)
    off2 = F.when(F.col("doc_id") % 7 == 3, F.lit(10)).otherwise(F.lit(20))
    media_ref = F.when(F.col("doc_id") % 7 == 5, F.lit("")).otherwise(
        F.concat(F.lit("m://"), F.col("doc_id").cast("string"), F.lit("/1"))
    )
    last_kind = F.when(F.col("doc_id") % 7 == 6, F.lit("vid")).otherwise(
        F.lit("text")
    )
    docs = d.select(
        "doc_id",
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
            F.struct(
                F.lit("image").alias("kind"),
                F.lit("").alias("text"),
                media_ref.alias("media_ref"),
                off1.alias("offset"),
            ),
            F.struct(
                last_kind.alias("kind"),
                F.col("text").alias("text"),
                F.lit("").alias("media_ref"),
                off2.alias("offset"),
            ),
        ).alias("spans"),
    )
    off_ok = F.expr(
        "size(filter(sequence(1, size(spans) - 1),"
        " i -> spans[i - 1].offset >= spans[i].offset)) = 0"
    )
    kind_ok = F.expr(
        f"size(filter(spans, s -> NOT s.kind IN ({kinds_sql}))) = 0"
    )
    media_ok = F.expr(
        "size(filter(spans,"
        " s -> (s.kind = 'image') != (s.media_ref <> ''))) = 0"
    )
    status = (
        F.when(~off_ok, F.lit("OFFSET_ORDER"))
        .when(~kind_ok, F.lit("KIND_DOMAIN"))
        .when(~media_ok, F.lit("MEDIA_REF"))
        .otherwise(F.lit("OK"))
    )
    return docs.select(status.alias("status")).groupBy("status").agg(
        F.count("*").alias("n_docs")
    )


# TF-IDF keyword parameters: the vocabulary is the corpus's
# TFIDF_VOCAB_K most document-frequent words (collected to the driver
# and inlined as literals — the q33 centroid pattern; at production
# scale this is a broadcast model table refreshed per corpus snapshot),
# and each document reports its TFIDF_TOP_K best-scoring vocabulary
# words. Scoring uses the linear rarity weight N/df instead of
# log(N/df): same ranking monotonicity per fixed tf, and exact integer
# arithmetic end to end (a log-idf variant only changes the inlined
# per-word weight literal).
TFIDF_VOCAB_K = 40
TFIDF_TOP_K = 3


@query(
    "q55_tfidf_keywords",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ), vocab AS (
      SELECT tok AS word, COUNT(DISTINCT doc_id) AS df
      FROM tok GROUP BY 1
      ORDER BY df DESC, word ASC LIMIT {TFIDF_VOCAB_K}
    ), n AS (SELECT COUNT(*) AS n FROM documents),
    tf AS (
      SELECT d.doc_id, v.word, v.df,
             len(list_filter(regexp_split_to_array(trim(d.text), '\\s+'),
                             x -> x = v.word)) AS tf
      FROM documents d CROSS JOIN vocab v
    ), scored AS (
      SELECT doc_id, word,
             CAST((tf::HUGEINT * 1000000 * (SELECT n FROM n)) // df AS BIGINT)
               AS score_e6,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id
               ORDER BY (tf::HUGEINT * 1000000 * (SELECT n FROM n)) // df DESC,
                        word ASC
             ) AS rn
      FROM tf WHERE tf > 0
    ), agg AS (
      SELECT doc_id, string_agg(word, ',' ORDER BY rn) AS keywords,
             MAX(score_e6) AS top_score_e6
      FROM scored WHERE rn <= {TFIDF_TOP_K} GROUP BY 1
    )
    SELECT d.doc_id, coalesce(a.keywords, '') AS keywords,
           coalesce(a.top_score_e6, 0) AS top_score_e6
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def q55(spark, sf_dir):
    """TF-IDF keyword extraction with a broadcast vocabulary: phase 1
    computes the corpus's {TFIDF_VOCAB_K}-word document-frequency head
    (the q51 shape — per-doc distinct in-row, one map-side-combining
    groupBy, TakeOrdered heap) and collects it to the driver; phase 2
    inlines (word, df) as literals and scores every document entirely
    IN-ROW: tf per vocab word from the doc's own token array, exact
    integer score tf·1e6·N/df, top-{TFIDF_TOP_K} by in-row array_sort.

    Spark shape: the corpus-touching phase 2 is map-only — zero
    shuffles, no doc×vocab join materialization (the vocabulary rides
    into each task as a literal, the broadcast-dimension cost class).
    At 100 TB the vocabulary head is refreshed per snapshot and the
    scoring pass stays embarrassingly parallel. The oracle recomputes
    both phases relationally (CROSS JOIN + window), proving the in-row
    rewrite equals the textbook formulation."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    vocab_rows = (
        d.select("doc_id", F.explode(F.array_distinct("toks")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), F.asc("word"))
        .limit(TFIDF_VOCAB_K)
        .collect()
    )
    n_docs = load(spark, sf_dir, "documents").count()
    entries = ", ".join(
        "struct('{w}' AS word, {df} AS df)".format(
            # Spark SQL string literals consume backslash escapes, so a
            # token like C:\data would silently become C:data (and a
            # trailing backslash is a parse error) — escape backslashes
            # FIRST, then double the quotes.
            w=r["word"].replace("\\", "\\\\").replace("'", "''"),
            df=int(r["df"]),
        )
        for r in vocab_rows
    )
    kw = F.expr(
        f"slice(array_sort(filter(transform(array({entries}),"
        f" v -> struct("
        f"   0 - cast((cast(size(filter(toks, x -> x = v.word))"
        f"        as decimal(38,0)) * 1000000 * {n_docs}) div v.df"
        f"        as bigint) AS negscore,"
        f"   v.word AS word)),"
        f" s -> s.negscore < 0)), 1, {TFIDF_TOP_K})"
    )
    return d.select("doc_id", kw.alias("kw")).select(
        "doc_id",
        F.expr("concat_ws(',', transform(kw, s -> s.word))").alias("keywords"),
        F.expr(
            "coalesce(0 - kw[0].negscore, cast(0 as bigint))"
        ).alias("top_score_e6"),
    )


# Hashed linear quality classifier: every token gets a deterministic
# weight in [0, 1000] derived from a salted md5 prefix (the stand-in
# for a trained fastText-style projection — in production the weight
# table is a broadcast model vector; here it is a hash so both engines
# derive it independently), and a document's quality is the exact
# integer mean weight (e3 scale). Docs at or above QC_KEEP_E3 survive.
QC_MOD = 1001
QC_KEEP_E3 = 500000

# The per-document quality score, shared verbatim by q56 (keep/drop
# report) and q72 (importance sampling) so the two can never drift
# (the q53/q61 lockstep convention). Each token's weight is a hashed
# lookup in [0, QC_MOD); the doc score is the exact integer mean
# weight scaled by 1000: quality_e3 = sum(w)*1000 div n_toks, in
# [0, (QC_MOD-1)*1000].
QC_SCORE_MAX_E3 = (QC_MOD - 1) * 1000
_QC_WSUM_SQL = (
    "list_sum(list_transform(toks,"
    f" x -> ('0x' || substr(md5('w:' || x), 1, 12))::BIGINT % {QC_MOD}))"
)
_QC_WSUM_SPARK = (
    f"aggregate(transform(toks,"
    f" x -> cast(conv(substring(md5(concat('w:', x)), 1, 12), 16, 10)"
    f"      as bigint) % {QC_MOD}),"
    f" cast(0 as bigint), (a, v) -> a + v)"
)


@query(
    "q56_quality_classifier",
    f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
             CAST(({_QC_WSUM_SQL} * 1000) // len(toks) AS BIGINT)
               AS quality_e3
      FROM t
    )
    SELECT doc_id, n_toks, quality_e3,
           CASE WHEN quality_e3 >= {QC_KEEP_E3} THEN 'keep' ELSE 'drop' END
             AS verdict
    FROM s
    """,
)
def q56(spark, sf_dir):
    """Model-based quality filtering at corpus scale: score every
    document with a linear bag-of-words classifier whose per-token
    weights come from a hashed lookup (fastText-style; the hash stands
    in for trained weights so the DuckDB oracle can derive the same
    model independently — swapping in real weights only changes the
    per-token expression to a broadcast-map lookup), then keep/drop on
    the exact integer mean-weight score.

    Spark shape: strictly map-only — token weights and their sum are
    higher-order-function expressions over the doc's own token array
    (transform + aggregate), one WholeStageCodegen pass, zero shuffles,
    zero Python. All arithmetic is int64 on positive values, so `div`
    (Spark) and `//` (DuckDB) agree and no float crosses the engine
    boundary."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    wsum = F.expr(_QC_WSUM_SPARK)
    s = d.select(
        "doc_id",
        F.expr("cast(size(toks) as bigint)").alias("n_toks"),
        wsum.alias("wsum"),
    ).select(
        "doc_id",
        "n_toks",
        F.expr("(wsum * 1000) div n_toks").alias("quality_e3"),
    )
    return s.select(
        "doc_id",
        "n_toks",
        "quality_e3",
        F.when(F.col("quality_e3") >= QC_KEEP_E3, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("verdict"),
    )


# The exact-percentile histogram machinery, shared by q57 (percentile
# report) and q81 (winsorized stats) — the interpolation and the
# rank-range selection live HERE and nowhere else (the q53/q61
# lockstep convention), so the two can never disagree on what "p10 of
# this distribution" means.
def _length_histogram(d, group: str = "lang", value: str = "n_chars"):
    """(group, value, cnt, cum, n): per-group value histogram with
    cumulative and total counts. The groupBy collapses the corpus
    map-side to distinct values per group — the scale-correct base for
    any exact order statistic on a bounded-int column."""
    h = d.groupBy(group, value).agg(F.count("*").alias("cnt"))
    w_cum = (
        Window.partitionBy(group)
        .orderBy(value)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(group)
    return h.select(
        group,
        value,
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )


def _percentile_e1_bounds(h2, tens_names, group: str = "lang",
                          value: str = "n_chars"):
    """One row per group: n_docs plus an exact e1-scaled linear-
    interpolated percentile column ``<name>_e1`` per (tens, name),
    where tens = 10·p. A histogram value v covers 0-indexed sorted
    ranks [cum-cnt, cum-1]; the p-quantile target rank is
    t = p·(n-1) = tnum/10 with tnum = (n-1)·tens — floor(t) =
    tnum div 10, rem = tnum % 10, and the interpolated value × 10 is
    the exact integer 10a + (b-a)·rem."""
    aggs = [F.max("n").alias("n_docs")]
    for tens, name in tens_names:
        fl = F.expr(f"((n - 1) * {tens}) div 10")
        ce = F.expr(
            f"((n - 1) * {tens}) div 10"
            f" + (case when ((n - 1) * {tens}) % 10 > 0 then 1 else 0 end)"
        )
        lo = F.col("cum") - F.col("cnt")
        hi = F.col("cum") - 1
        aggs.append(
            F.max(F.when((lo <= fl) & (fl <= hi), F.col(value))).alias(
                f"{name}_a"
            )
        )
        aggs.append(
            F.max(F.when((lo <= ce) & (ce <= hi), F.col(value))).alias(
                f"{name}_b"
            )
        )
    g = h2.groupBy(group).agg(*aggs)
    cols = [F.col(group), F.col("n_docs")]
    for tens, name in tens_names:
        rem = F.expr(f"((n_docs - 1) * {tens}) % 10")
        cols.append(
            (
                F.col(f"{name}_a") * 10
                + (F.col(f"{name}_b") - F.col(f"{name}_a")) * rem
            )
            .cast("bigint")
            .alias(f"{name}_e1")
        )
    return g.select(*cols)


@query(
    "q57_length_percentiles",
    """
    SELECT lang, COUNT(*) AS n_docs,
           CAST(ROUND(quantile_cont(n_chars, 0.5) * 10) AS BIGINT)
             AS p50_chars_e1,
           CAST(ROUND(quantile_cont(n_chars, 0.9) * 10) AS BIGINT)
             AS p90_chars_e1
    FROM documents GROUP BY lang
    """,
)
def q57(spark, sf_dir):
    """Exact linear-interpolated length percentiles per language — the
    distribution report a curation pipeline uses to set length cutoffs.

    Spark shape: NOT the built-in `percentile` (an imperative aggregate
    that buffers every value per group — unusable at 10^12 rows).
    Instead the scale-correct histogram formulation for bounded-int
    columns: groupBy (lang, n_chars) with map-side partial counts
    (state per task = distinct lengths, not rows), a cumulative-count
    window over the tiny histogram, and the quantile_cont interpolation
    a + (b-a)·frac recovered from the two histogram rows whose rank
    ranges cover floor/ceil of p·(n-1). Because p ∈ {{0.5, 0.9}}, the
    interpolated value times 10 is an exact integer — computed here in
    pure int64 (10a + (b-a)·rem) while the DuckDB oracle runs the
    genuine `quantile_cont` and rounds its double to the same e1
    integer, bridging float representation noise without weakening the
    check."""
    d = load(spark, sf_dir, "documents")
    h2 = _length_histogram(d)
    b = _percentile_e1_bounds(h2, ((5, "p50"), (9, "p90")))
    return b.select(
        "lang",
        "n_docs",
        F.col("p50_e1").alias("p50_chars_e1"),
        F.col("p90_e1").alias("p90_chars_e1"),
    )


@query(
    "q58_cube_stats",
    """
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY CUBE (lang, source)
    """,
)
def q58(spark, sf_dir):
    """Multi-dimensional corpus accounting via CUBE(lang, source): all
    four grouping sets (both, lang-only, source-only, grand total) in
    one pass — the mixture dashboard a data-composition report reads
    (complements q10's ROLLUP hierarchy).

    Spark shape: `cube()` expands grouping sets inside the SAME
    hash-aggregate (an Expand node feeding one partial+final agg), so
    the corpus is scanned once and shuffled once regardless of how many
    grouping sets the report needs — never one job per breakdown."""
    d = load(spark, sf_dir, "documents")
    return d.cube("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


# HyperLogLog parameters: HLL_M = 2^HLL_B registers; each item's
# 48-bit md5-prefix hash splits into a register index (top HLL_B bits)
# and a (48 - HLL_B)-bit suffix whose leading-zero count feeds the
# register. Registers are small integers, so the distributed sketch is
# bit-exact across engines — only the final cardinality ESTIMATE (a
# float, computed by the consumer) ever involves floating point.
HLL_B = 6
HLL_M = 1 << HLL_B  # 64 registers
HLL_SUFFIX_BITS = 48 - HLL_B  # 42


@query(
    "q59_hll_sketch",
    f"""
    WITH h AS (
      SELECT source,
             ('0x' || substr(md5(text), 1, 12))::BIGINT AS h48
      FROM documents
    ), reg AS (
      SELECT source,
             h48 // {1 << HLL_SUFFIX_BITS} AS j,
             h48 % {1 << HLL_SUFFIX_BITS} AS suffix
      FROM h
    )
    SELECT source, CAST(j AS BIGINT) AS register,
           CAST(MAX(CASE WHEN suffix = 0 THEN {HLL_SUFFIX_BITS + 1}
                         ELSE {HLL_SUFFIX_BITS + 1} - length(bin(suffix))
                    END) AS BIGINT) AS max_rho
    FROM reg GROUP BY 1, 2
    """,
)
def q59(spark, sf_dir):
    """HyperLogLog sketch build — approximate distinct counting, the
    sketch-aggregation family a 10^12-row pipeline needs where exact
    COUNT(DISTINCT) would shuffle every key: per source, {HLL_M}
    registers holding the max leading-zero rank of the item-hash
    suffix. The query returns the REGISTERS (exact int64 on both
    engines — the md5-derived hash makes the sketch reproducible
    cross-engine, unlike engine-native approx_count_distinct whose
    sketch is opaque), so the driver's hash gate verifies the
    distributed sketch bit-for-bit; the float cardinality estimate is
    a consumer-side formula over these 64 integers (computed and
    accuracy-checked in tests/test_corpus_ops.py).

    Spark shape: map-only (j, rho) per row, then one groupBy whose
    map-side partial MAX collapses every task's rows to at most
    sources×{HLL_M} register rows before the exchange — the shuffle
    carries sketches, never items. Register MAX is the sketch-union
    operator, so the same shape merges per-partition, per-snapshot, or
    per-day sketches (mergeability asserted in tests). rho uses
    `length(bin(suffix))` — integer bit-length, no float log2."""
    sb = HLL_SUFFIX_BITS
    d = load(spark, sf_dir, "documents")
    h = d.select(
        "source",
        F.expr(
            "cast(conv(substring(md5(text), 1, 12), 16, 10) as bigint)"
        ).alias("h48"),
    )
    reg = h.select(
        "source",
        F.expr(f"h48 div {1 << sb}").alias("register"),
        F.expr(
            f"case when h48 % {1 << sb} = 0 then {sb + 1}"
            f" else {sb + 1} - length(bin(h48 % {1 << sb})) end"
        ).alias("rho"),
    )
    return reg.groupBy("source", "register").agg(
        F.max("rho").cast("bigint").alias("max_rho")
    )


# Candidate-verification parameters: Levenshtein on the first
# LEV_PREFIX chars (bounds the O(m·n) DP cost per pair regardless of
# document length); pairs at or below LEV_MAX edits are verified
# duplicates. The prefix cap is what keeps the stage scale-safe: cost
# is candidates × LEV_PREFIX², independent of corpus text size.
LEV_PREFIX = 120
LEV_MAX = 40


def _q62_oracle() -> str:
    # reuses q20's full oracle as a subquery: the verification stage is
    # defined OVER the candidate generator, in lock-step on both engines
    return f"""
    SELECT doc_a, doc_b, lev,
           CASE WHEN lev <= {LEV_MAX} THEN 'dup' ELSE 'reject' END AS verdict
    FROM (
      SELECT c.doc_a, c.doc_b,
             CAST(levenshtein(substr(da.text, 1, {LEV_PREFIX}),
                              substr(db.text, 1, {LEV_PREFIX})) AS BIGINT)
               AS lev
      FROM ({ORACLES["q20_lsh_candidate_pairs"]}) c
      JOIN documents da ON CAST(da.doc_id AS VARCHAR) = c.doc_a
      JOIN documents db ON CAST(db.doc_id AS VARCHAR) = c.doc_b
    )
    """


@query("q62_editdist_verify", _q62_oracle())
def q62(spark, sf_dir):
    """Candidate verification by bounded edit distance — the stage a
    production dedup pipeline runs AFTER LSH candidate generation
    (q20): each candidate pair's text prefixes are compared with exact
    Levenshtein and the pair is verified or rejected. Hash-based
    candidates (minhash bands) have false positives by design; this is
    the exact check that keeps them out of the drop list.

    Spark shape: the candidate relation is tiny relative to the corpus
    (pairs, not documents), so it is broadcast onto the documents scan
    twice to fetch the two prefixes — the corpus never shuffles, and
    the DP cost is bounded at LEV_PREFIX² per pair regardless of
    document length. `levenshtein` is exact integer on both engines."""
    cand = q20(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.substring("text", 1, LEV_PREFIX).alias("prefix"),
    )
    da = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("prefix").alias("pa")
    )
    db = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("prefix").alias("pb")
    )
    lev = F.levenshtein("pa", "pb").cast("bigint")
    # broadcast the small side of BOTH joins explicitly: cand onto the
    # doc_a scan, then the (still candidate-sized) paired result onto
    # the doc_b scan — without the second hint the plan degrades to a
    # corpus-side sort-merge shuffle when AQE doesn't rescue it
    paired = da.join(F.broadcast(cand), "doc_a")
    return (
        db.join(F.broadcast(paired), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            lev.alias("lev"),
            F.when(lev <= LEV_MAX, F.lit("dup"))
            .otherwise(F.lit("reject"))
            .alias("verdict"),
        )
    )


@query(
    "q63_clickers_and_buyers",
    """
    SELECT user_id FROM events
    WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-08 00:00:00'
    INTERSECT
    SELECT user_id FROM events
    WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-08 00:00:00'
    """,
)
def q63(spark, sf_dir):
    """Set-operation coverage, INTERSECT branch (q12's EXCEPT twin):
    users who both clicked and purchased in the window. `intersect`
    compiles to a left-semi join over the two deduplicated sides —
    one partial-agg-friendly shuffle per side at any scale."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp_ntz")
    )
    clickers = ev.filter(F.col("event_type") == "click").select("user_id")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    # no explicit .distinct(): Intersect already rewrites to a distinct
    # left-semi join (an added distinct costs a measured extra shuffle)
    return clickers.intersect(buyers)


# Pivot column domain: pinned explicitly so (a) Spark skips the extra
# distinct-values job a bare pivot() runs, and (b) the output schema is
# deterministic at any scale (pivoting an unbounded key is a schema
# explosion — pin the domain or pre-bucket it).
PIVOT_LANGS = ("de", "en", "es", "fr", "zh")


@query(
    "q64_pivot_matrix",
    f"""
    SELECT source,
           {", ".join(
        f"CAST(SUM(CASE WHEN lang = '{lg}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS {lg}" for lg in PIVOT_LANGS
    )}
    FROM documents GROUP BY source
    """,
)
def q64(spark, sf_dir):
    """Pivot: the source×language composition matrix (one row per
    source, one column per language) — the wide-format report a corpus
    mixture dashboard renders. The language domain is pinned
    (PIVOT_LANGS), so Spark's pivot skips its distinct-values
    pre-query and compiles to ONE hash aggregate with {len(PIVOT_LANGS)}
    conditional counts — exactly the CASE-sum formulation the oracle
    spells out, one corpus pass, one small shuffle at any scale."""
    d = load(spark, sf_dir, "documents")
    p = d.groupBy("source").pivot("lang", list(PIVOT_LANGS)).count()
    return p.select(
        "source",
        *[
            F.coalesce(F.col(lg), F.lit(0)).cast("bigint").alias(lg)
            for lg in PIVOT_LANGS
        ],
    )


@query(
    "q65_unpivot_metrics",
    """
    SELECT doc_id, 'n_chars' AS metric, CAST(n_chars AS BIGINT) AS value
    FROM documents
    UNION ALL
    SELECT doc_id, 'n_toks' AS metric,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
    FROM documents
    """,
)
def q65(spark, sf_dir):
    """Unpivot/melt: per-document metrics widened into (doc_id, metric,
    value) rows — the long format a metrics store or per-metric
    histogram job consumes. Spark's `unpivot` is a zero-shuffle Expand
    (each input row fans out to its metric rows in place), so melting
    stays map-only at any corpus size; the oracle is the equivalent
    UNION ALL."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("n_toks"),
    )
    return d.unpivot(
        ids=["doc_id"],
        values=["n_chars", "n_toks"],
        variableColumnName="metric",
        valueColumnName="value",
    )


# Mixture-sampling token budget: every source is independently
# downsampled toward MIX_TOKEN_CAP tokens. A doc survives iff
# hash16 <= (65536*cap - 1) div source_tokens — the overflow-safe
# integer form of hash16·source_tokens < 65536·cap (equivalent for all
# non-negative int64 operands, but the per-source THRESHOLD stays tiny
# while the naive product wraps past 2^63 once a source exceeds
# ~1.4e14 tokens, exactly the 10^12-doc regime this query targets; a
# wrapped negative product would silently keep everything). The keep
# probability is cap/source_tokens to 16-bit precision with NO float
# anywhere, and sources already under budget keep everything.
# Decisions are deterministic given
# (doc_id, source_tokens): growth in OTHER sources never flips a
# decision; growth within a source tightens its own rate (as it must,
# to hold the budget) but the hash ordering makes the kept set shrink
# monotonically — a doc dropped at some corpus size stays dropped.
MIX_TOKEN_CAP = 800


@query(
    "q66_token_budget_mix",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             len(regexp_split_to_array(trim(text), '\\s+')) AS nt
      FROM documents
    ), tot AS (SELECT source, SUM(nt) AS st FROM t GROUP BY 1),
    kept AS (
      SELECT t.doc_id, t.source, t.nt, tot.st
      FROM t JOIN tot USING (source)
      WHERE ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 4))
              ::BIGINT
            <= (65536 * {MIX_TOKEN_CAP} - 1) // tot.st
    )
    SELECT source, COUNT(*) AS n_docs_kept,
           CAST(SUM(nt) AS BIGINT) AS tokens_kept,
           CAST(MAX(st) AS BIGINT) AS source_tokens
    FROM kept GROUP BY source
    """,
)
def q66(spark, sf_dir):
    """Mixture weighting to a per-source token budget — the data-mixing
    step that turns raw source sizes into a training mixture: each
    source is hash-downsampled toward MIX_TOKEN_CAP tokens (sources
    under budget pass through whole), and the audit reports kept
    docs/tokens against the source total. The kept set is a
    deterministic function of (doc_id, source_tokens) and shrinks
    monotonically as a source grows — no RNG, no state.

    Spark shape: per-source token totals are a tiny aggregate joined
    back by broadcast (20 rows here; at 10^5 sources still KBs), the
    keep decision is one exact int64 threshold compare per row
    (hash16 <= (65536·cap − 1) div source_tokens — the overflow-safe
    equivalent of the cross-multiplication; the rate never exists as a
    float), and the audit is one small groupBy. The corpus itself is
    touched by exactly one map-only pass."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("nt"),
    )
    tot = d.groupBy("source").agg(F.sum("nt").alias("st"))
    h16 = F.expr(
        "cast(conv(substring(md5(concat('mix:', cast(doc_id as string))),"
        " 1, 4), 16, 10) as bigint)"
    )
    kept = d.join(F.broadcast(tot), "source").filter(
        h16 <= F.expr(f"({65536 * MIX_TOKEN_CAP} - 1) div st")
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs_kept"),
        F.sum("nt").alias("tokens_kept"),
        F.max("st").alias("source_tokens"),
    )


@query(
    "q67_funnel",
    """
    WITH t1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ), t2 AS (
      SELECT e.user_id, MIN(ts) AS t2
      FROM events e JOIN t1 USING (user_id)
      WHERE event_type = 'click' AND ts > t1 GROUP BY 1
    ), t3 AS (
      SELECT e.user_id, MIN(ts) AS t3
      FROM events e JOIN t2 USING (user_id)
      WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1
    )
    SELECT '1_view' AS stage, COUNT(*) AS n_users FROM t1
    UNION ALL SELECT '2_click', COUNT(*) FROM t2
    UNION ALL SELECT '3_purchase', COUNT(*) FROM t3
    """,
)
def q67(spark, sf_dir):
    """Ordered-funnel analysis: how many users progressed through
    view → click → purchase IN TIME ORDER (a click only counts after
    the first view, a purchase only after that click) — the
    sequential-pattern query every event-analytics stack runs.

    Spark shape: three conditional-min windows over the SAME user
    partitioning — Catalyst plans one Exchange and stacks the Window
    nodes on it, so each event row crosses the cluster once no matter
    how many funnel stages there are (the join-per-stage formulation —
    the oracle's — re-shuffles the event table per stage). The final
    per-user collapse reuses the partitioning; stage counts leave via
    `stack` into long format."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    s = ev.withColumn(
        "t1",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    s = s.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    s = s.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = s.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    counts = per_user.agg(
        F.count("t1").alias("c1"),
        F.count("t2").alias("c2"),
        F.count("t3").alias("c3"),
    )
    return counts.select(
        F.expr(
            "stack(3, '1_view', c1, '2_click', c2, '3_purchase', c3)"
            " AS (stage, n_users)"
        )
    )


@query(
    "q68_hourly_gapfill",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), b AS (
      SELECT date_trunc('hour', MIN(ts)) AS h0,
             date_trunc('hour', MAX(ts)) AS h1
      FROM events
    ), grid AS (
      SELECT unnest(generate_series((SELECT h0 FROM b), (SELECT h1 FROM b),
                                    INTERVAL 1 HOUR)) AS h
    ), ty AS (SELECT DISTINCT event_type FROM events)
    SELECT strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour, ty.event_type,
           CAST(coalesce(hh.n, 0) AS BIGINT) AS n
    FROM grid g CROSS JOIN ty
    LEFT JOIN hourly hh ON hh.h = g.h AND hh.event_type = ty.event_type
    """,
)
def q68(spark, sf_dir):
    """Time-series densification (gap-fill): the hourly event-rate
    series with EVERY (hour, type) bucket present — silent hours emit
    explicit zeros — which is what alerting, charting, and windowed
    anomaly detection require (q08's sparse counts silently skip empty
    buckets). Resampling/densify is the time-series op the relational
    core otherwise lacks.

    Spark shape: the dense grid is GENERATED, never scanned — one tiny
    bounds aggregate feeds an in-row `sequence(h0, h1, interval 1
    hour)` explode, cross-joined with the distinct type dimension (both
    sides KBs at any corpus size, broadcast), and the real hourly
    counts (the only corpus-sized relation, one map-side-combining
    groupBy) are left-joined onto it. Grid size is hours×types —
    independent of event count."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count("*").alias("n"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h")
    )
    types = ev.select("event_type").distinct()
    dense = grid.crossJoin(F.broadcast(types))
    return (
        dense.join(hourly, ["h", "event_type"], "left")
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
        )
    )


# Training-output sharding: the writer fan-out factor. Hash-mod keeps
# assignment stateless and reproducible (no coordination, no counter);
# the md5 prefix is salted ('shard:') so shard placement is independent
# of every other hash decision (q45 membership, q45 split, q66 mix).
# At production scale N_SHARDS is sized to target-file-bytes:
# corpus_bytes / N ≈ 256 MB–1 GB per shard file group.
SHARD_N = 16


@query(
    "q69_shard_assignment",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             len(regexp_split_to_array(trim(text), '\\s+')) AS nt,
             ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 4))
               ::BIGINT % {SHARD_N} AS shard
      FROM documents
    ), per AS (
      SELECT shard, COUNT(*) AS n_docs,
             CAST(SUM(nt) AS BIGINT) AS tokens,
             COUNT(DISTINCT source) AS n_sources
      FROM t GROUP BY shard
    )
    SELECT shard, n_docs, tokens, n_sources,
           CAST(tokens::HUGEINT * 1000000 // (SUM(tokens) OVER ()) AS BIGINT)
             AS share_ppm
    FROM per
    """,
)
def q69(spark, sf_dir):
    """Training-shard assignment audit — the output-layout step of a
    training-data writer: every document is placed into one of
    {SHARD_N} shards by a salted hash of its id (stateless,
    reproducible, coordination-free — the property that lets 1000
    writers shard 100 TB without a central counter), and the audit
    reports per-shard doc/token mass, source diversity, and each
    shard's exact token share in ppm (hash placement ⇒ ~1/N each; a
    skewed share exposes id-space pathologies before a 10-hour
    training run does).

    Spark shape: one map-only pass computes (shard, nt), one
    {SHARD_N}-key groupBy with map-side partial aggregation collapses
    it; the share denominator is a window over the {SHARD_N}-row
    result (not the corpus). COUNT(DISTINCT source) expands to
    (shard, source) partials first — bounded by shards x sources, not
    by rows. share_ppm multiplies WIDE (decimal(38,0)/HUGEINT —
    per-shard token mass is corpus-sized, the q77 rule) before the
    exact ppm division."""
    d = load(spark, sf_dir, "documents").select(
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("nt"),
        F.expr(
            f"cast(conv(substring(md5(concat('shard:', cast(doc_id as"
            f" string))), 1, 4), 16, 10) as bigint) % {SHARD_N}"
        ).alias("shard"),
    )
    per = d.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("nt").alias("tokens"),
        F.countDistinct("source").alias("n_sources"),
    )
    total = Window.partitionBy()
    return per.select(
        "shard",
        "n_docs",
        "tokens",
        "n_sources",
        F.expr("cast(tokens as decimal(38,0)) * 1000000").alias("_num"),
        F.sum("tokens").over(total).alias("_tot"),
    ).select(
        "shard",
        "n_docs",
        "tokens",
        "n_sources",
        F.expr("_num div _tot").alias("share_ppm"),
    )


# Source-divergence head size: the corpus vocabulary head over which
# per-source unigram distributions are compared. 32 covers this
# fixture's ~40-word vocabulary almost completely; production sizing
# is the smallest V whose head carries the mass you care about (the
# Zipf head — 10k–100k words covers >95% of tokens in web corpora).
DIVERGENCE_TOP_V = 32


@query(
    "q70_source_divergence",
    f"""
    WITH t AS (
      SELECT source, regexp_split_to_array(trim(text), '\\s+') AS l
      FROM documents
    ), tok AS (SELECT source, unnest(l) AS word FROM t),
    swc AS (SELECT source, word, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    stot AS (SELECT source, SUM(c) AS st FROM swc GROUP BY 1),
    cw AS (SELECT word, SUM(c) AS cc FROM swc GROUP BY 1),
    ctot AS (SELECT SUM(cc) AS tt FROM cw),
    head AS (SELECT word, cc FROM cw
             ORDER BY cc DESC, word ASC LIMIT {DIVERGENCE_TOP_V}),
    grid AS (SELECT s.source, s.st, h.word, h.cc, ctot.tt
             FROM stot s CROSS JOIN head h CROSS JOIN ctot),
    j AS (
      SELECT g.source, g.st,
             coalesce(sw.c, 0)::HUGEINT * 1000000 // g.st AS ps,
             g.cc::HUGEINT * 1000000 // g.tt AS pc
      FROM grid g LEFT JOIN swc sw
        ON sw.source = g.source AND sw.word = g.word
    )
    SELECT source, CAST(MAX(st) AS BIGINT) AS src_tokens,
           CAST(SUM(ABS(ps - pc)) AS BIGINT) AS l1_div_ppm
    FROM j GROUP BY source
    """,
)
def q70(spark, sf_dir):
    """Per-source unigram-distribution divergence — the domain-shift /
    mixture diagnostic of a corpus pipeline: each source's word
    distribution is compared to the whole corpus's over the top-V
    vocabulary head (L1 distance in exact ppm), surfacing sources
    whose language is unlike the rest (spam farms, wrong-language
    crawls, template mills) BEFORE they are mixed into training data.

    Spark shape: the only corpus-sized work is the (source, word)
    count — computed like q51 with per-doc counts built IN-ROW so the
    explode emits distinct-words-per-doc, then one map-side-combining
    groupBy. Everything downstream is head-sized: corpus totals and
    the top-V head are tiny aggregates, the sources x V comparison
    grid is built by broadcast cross joins, and the per-source-word
    counts are SEMI-JOINED to the head words (broadcast) before
    touching the grid — no corpus-sized relation crosses a second
    shuffle. Probabilities are exact scaled integers (x*1e6 div total,
    identical `div`/`//` semantics both engines); no float appears, so
    the hash gate verifies bit-exactly. word counts are corpus-sized, so the
    ppm products multiply WIDE (decimal(38,0)/HUGEINT, the q77 rule) —
    no int64 wrap at any corpus size."""
    d = load(spark, sf_dir, "documents").select(
        "source", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    pairs = F.expr(
        "transform(array_distinct(toks),"
        " w -> struct(w AS word,"
        " cast(size(filter(toks, x -> x = w)) as bigint) AS c))"
    )
    per = d.select("source", F.explode(pairs).alias("p")).select(
        "source", "p.word", "p.c"
    )
    swc = per.groupBy("source", "word").agg(F.sum("c").alias("c"))
    stot = swc.groupBy("source").agg(F.sum("c").alias("st"))
    cw = swc.groupBy("word").agg(F.sum("c").alias("cc"))
    tt = cw.agg(F.sum("cc").alias("tt"))
    head = cw.orderBy(F.desc("cc"), F.asc("word")).limit(DIVERGENCE_TOP_V)
    grid = stot.crossJoin(F.broadcast(head)).crossJoin(F.broadcast(tt))
    swc_head = swc.join(F.broadcast(head.select("word")), "word")
    j = grid.join(F.broadcast(swc_head), ["source", "word"], "left").select(
        "source",
        "st",
        F.expr("cast(coalesce(c, 0) as decimal(38,0)) * 1000000 div st").alias("ps"),
        F.expr("cast(cc as decimal(38,0)) * 1000000 div tt").alias("pc"),
    )
    return j.groupBy("source").agg(
        F.max("st").cast("bigint").alias("src_tokens"),
        F.sum(F.abs(F.col("ps") - F.col("pc"))).cast("bigint").alias("l1_div_ppm"),
    )


# Containment threshold: |A∩B| / min(|A|,|B|) >= 0.8 flags B-contains-A
# (or the reverse) even when symmetric Jaccard is low — the
# partial-copy case (a doc quoted inside a longer one) that q18's
# union-denominator misses by construction. Integer compare 5*inter >=
# 4*min keeps the gate float-free.
CONTAIN_MIN_NUM, CONTAIN_MIN_DEN = 4, 5


@query(
    "q71_containment_pairs",
    _SHINGLE_CTE
    + f"""
    , groups AS (
      SELECT shh, COUNT(*) AS df FROM hsh GROUP BY shh
      HAVING COUNT(*) <= {Q18_SHINGLE_DF_CAP}
    ),
    capped AS (SELECT h.doc_id, h.shh FROM hsh h JOIN groups USING (shh)),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM capped GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM capped a JOIN capped b ON a.shh = b.shh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CASE WHEN sa.sz <= sb.sz THEN doc_a ELSE doc_b END AS contained_doc,
           (floor(inter * 1000000.0 / LEAST(sa.sz, sb.sz)) / 1000000.0)
             AS containment,
           (floor(inter * 1000000.0 / (sa.sz + sb.sz - inter)) / 1000000.0)
             AS jaccard
    FROM pairs p JOIN sizes sa ON sa.doc_id = p.doc_a
                 JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE inter * {CONTAIN_MIN_DEN} >= {CONTAIN_MIN_NUM} * LEAST(sa.sz, sb.sz)
    """,
)
def q71(spark, sf_dir):
    """Containment near-dup detection — asymmetric Jaccard
    |A∩B|/min(|A|,|B|): flags a document CONTAINED in another (quote,
    excerpt, page-within-site dump) even when the symmetric Jaccard
    q18 reports is diluted by the larger doc's extra content. Dedup
    pipelines run both: union-Jaccard for mutual near-dups,
    containment for subset copies (this fixture's planted dups are
    exact, so both fire on the same pairs here; the partial-copy
    separation — high containment, low Jaccard — is pinned with
    planted fixtures in tests/test_corpus_ops.py).

    Spark shape: IDENTICAL overlap stage as q18 — `pair_intersections`
    over the df-capped postings (one shared helper, so the two
    similarity semantics can never drift) — then a float-free integer
    gate (5·inter >= 4·min) and a floor6 projection. Same linearity
    argument as q18: the cap bounds per-shingle pair output, no
    all-pairs anywhere."""
    capped = capped_postings(_shingles(spark, sf_dir))
    pi = pair_intersections(capped)
    mn = F.least(F.col("sza"), F.col("szb"))
    return (
        pi.filter(F.col("inter") * CONTAIN_MIN_DEN >= CONTAIN_MIN_NUM * mn)
        .select(
            "doc_a",
            "doc_b",
            F.when(F.col("sza") <= F.col("szb"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_doc"),
            (F.floor(F.col("inter") * 1000000.0 / mn) / 1000000.0).alias(
                "containment"
            ),
            (
                F.floor(
                    F.col("inter")
                    * 1000000.0
                    / (F.col("sza") + F.col("szb") - F.col("inter"))
                )
                / 1000000.0
            ).alias("jaccard"),
        )
    )


@query(
    "q72_importance_sample",
    f"""
    WITH t AS (
      SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS nt,
             CAST(({_QC_WSUM_SQL} * 1000) // len(toks) AS BIGINT)
               AS quality_e3
      FROM t
    ), k AS (
      SELECT *,
             ('0x' || substr(md5('imp:' || CAST(doc_id AS VARCHAR)), 1, 4))
               ::BIGINT * {QC_SCORE_MAX_E3} < quality_e3 * 65536 AS keep
      FROM s
    )
    SELECT source, COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN keep THEN nt ELSE 0 END) AS BIGINT)
             AS tokens_kept,
           CAST(coalesce(SUM(CASE WHEN keep THEN quality_e3 ELSE 0 END)
                  // NULLIF(SUM(CASE WHEN keep THEN 1 ELSE 0 END), 0), 0)
                AS BIGINT) AS avg_quality_kept_e3
    FROM k GROUP BY source
    """,
)
def q72(spark, sf_dir):
    """Quality-weighted importance sampling — the curation step that
    keeps each document with probability proportional to its model
    quality score (q56's classifier, shared expression): high-quality
    docs nearly always survive, junk is downsampled toward zero, and
    the per-source audit shows the resulting mass shift (avg kept
    quality > population average, by construction). Deterministic:
    accept iff hash16 · SCORE_MAX < score · 2^16 — the salted-hash
    acceptance rule of q45/q66 with a per-row probability instead of a
    per-source rate. Here the NAIVE cross-multiplication is int64-safe
    (both factors are row-local and bounded: h16 < 2^16,
    SCORE_MAX = {QC_SCORE_MAX_E3} — product < 2^37), unlike q66 where
    one factor is corpus-sized and the rule must divide instead.

    Spark shape: strictly map-only scoring + acceptance (one
    WholeStageCodegen pass — the score is an in-row higher-order-
    function aggregate, the accept a single integer compare) and one
    small per-source groupBy of conditional partial aggregates. Zero
    joins, zero windows; at 10^12 docs this is one pass over the
    corpus."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    s = d.select(
        "doc_id",
        "source",
        F.expr("cast(size(toks) as bigint)").alias("nt"),
        F.expr(f"({_QC_WSUM_SPARK} * 1000) div size(toks)").alias("quality_e3"),
    )
    h16 = F.expr(
        "cast(conv(substring(md5(concat('imp:', cast(doc_id as string))),"
        " 1, 4), 16, 10) as bigint)"
    )
    k = s.withColumn("keep", h16 * QC_SCORE_MAX_E3 < F.col("quality_e3") * 65536)
    kept1 = F.when(F.col("keep"), F.lit(1)).otherwise(F.lit(0))
    return k.groupBy("source").agg(
        F.count("*").alias("n_total"),
        F.sum(kept1).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("keep"), F.col("nt")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("tokens_kept"),
        F.coalesce(
            F.expr(
                "sum(CASE WHEN keep THEN quality_e3 ELSE 0 END)"
                " div nullif(sum(CASE WHEN keep THEN 1 ELSE 0 END), 0)"
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("avg_quality_kept_e3"),
    )


# Incremental-dedup batch membership: the salted-md5 rule (q45/q46
# pattern) selects ≈ 0x20/0x100 = 12.5% of documents as the "newly
# crawled batch"; the rest stand in for the already-curated snapshot.
# The rule is shared by q73 (incremental dedup) and q78 (snapshot
# diff) via the two helpers below — q78 audits exactly the batch q73
# dedups, so the salt/width/threshold live here and nowhere else (the
# q53/q61 lockstep convention).
INC_BATCH_THRESHOLD = "20"


def _is_new_sql(id_expr: str = "doc_id") -> str:
    """DuckDB predicate: does this doc belong to the new crawl batch?"""
    return (
        f"substr(md5('batch:' || CAST({id_expr} AS VARCHAR)), 1, 2)"
        f" < '{INC_BATCH_THRESHOLD}'"
    )


def _is_new_col() -> Column:
    """Spark twin of :func:`_is_new_sql`."""
    return (
        F.substring(
            F.md5(F.concat(F.lit("batch:"), F.col("doc_id").cast("string"))), 1, 2
        )
        < INC_BATCH_THRESHOLD
    )


@query(
    "q73_incremental_dedup",
    f"""
    WITH d AS (
      SELECT doc_id, source, {textstats.fingerprint_sql('text')} AS fp,
             {_is_new_sql()} AS is_new
      FROM documents
    ),
    new_docs AS (SELECT doc_id, source, fp FROM d WHERE is_new),
    m AS (
      SELECT DISTINCT fp FROM d
      WHERE NOT is_new AND fp IN (SELECT fp FROM new_docs)
    ),
    fb AS (SELECT fp, MIN(doc_id) AS first_id FROM new_docs GROUP BY fp)
    SELECT n.doc_id, n.source,
           CASE WHEN m.fp IS NOT NULL THEN 'dup_of_snapshot'
                WHEN n.doc_id > fb.first_id THEN 'dup_within_batch'
                ELSE 'new' END AS verdict
    FROM new_docs n
    LEFT JOIN m ON m.fp = n.fp
    JOIN fb ON fb.fp = n.fp
    """,
)
def q73(spark, sf_dir):
    """Incremental dedup — dedup a NEW crawl batch against the
    already-curated snapshot WITHOUT re-deduplicating the snapshot
    (q17 is the full-corpus pass; this is what every subsequent
    pipeline run does): each new document is verdicted
    'dup_of_snapshot' (its canonical-text fingerprint already exists),
    'dup_within_batch' (an earlier new doc claims the fingerprint), or
    'new'. Verdicts are per-doc so the downstream writer can append
    exactly the 'new' set.

    Spark shape: the snapshot — the only corpus-sized relation — is
    touched by ONE map-only pass with a broadcast-hash probe against
    the new batch's fingerprints (a crawl increment is small relative
    to the corpus by construction); it never shuffles. The matched
    fingerprint set (≤ |batch|) and the within-batch first-claim
    aggregate are batch-sized. At 10^12 docs the snapshot fingerprints
    are instead READ from the staged bucketed fingerprint table the
    exact-dedup pass already maintains (`operators/staged_dedup.py`
    layout), making the probe a bucket-local semi-join — either way,
    no full-corpus shuffle. The fingerprint expression is q17's
    (`textstats.fingerprint_col`), shared so incremental and full
    dedup can never disagree."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        textstats.fingerprint_col(F.col("text")).alias("fp"),
        _is_new_col().alias("is_new"),
    )
    # Materialize the batch-sized side ONCE (executor-local): its three
    # consumers (fp distinct, first-claim agg, final join) would
    # otherwise each re-scan the corpus and re-fingerprint every doc.
    new_docs = d.filter("is_new").select("doc_id", "source", "fp").transform(materialize)
    old = d.filter("NOT is_new").select("fp")
    new_fps = new_docs.select("fp").distinct()
    matched = (
        old.join(F.broadcast(new_fps), "fp").select("fp").distinct()
    )
    first = new_docs.groupBy("fp").agg(F.min("doc_id").alias("first_id"))
    return (
        new_docs.join(F.broadcast(matched.withColumn("in_snap", F.lit(True))),
                      "fp", "left")
        .join(F.broadcast(first), "fp")
        .select(
            "doc_id",
            "source",
            F.when(F.col("in_snap"), F.lit("dup_of_snapshot"))
            .when(F.col("doc_id") > F.col("first_id"), F.lit("dup_within_batch"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
        )
    )


# Context-window packing: the training-sample assembly step. Documents
# are packed greedily in doc_id order, never split, into fixed
# PACK_CAP-token sequences, independently within PACK_LANES hash-
# assigned lanes so a 1000-executor writer packs without any global
# coordination. Sizing rule: PACK_CAP = model context length;
# PACK_LANES grows with corpus size so each lane's sorted run fits one
# task (lanes ~ total_tokens / (PACK_CAP * seqs_per_task)).
PACK_CAP = 512
PACK_LANES = 8


@query(
    "q74_sequence_packing",
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS nt,
             ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 4))
               ::BIGINT % {PACK_LANES} AS lane
      FROM documents
    ), c AS (
      SELECT doc_id, lane, nt,
             COALESCE(SUM(nt) OVER (PARTITION BY lane ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM t
    )
    SELECT doc_id, lane, nt,
           CAST(cum_before // {PACK_CAP} AS BIGINT) AS seq_id,
           CAST(cum_before % {PACK_CAP} AS BIGINT) AS seq_offset
    FROM c
    """,
)
def q74(spark, sf_dir):
    """Training-sequence packing — assign every document a (lane,
    seq_id, seq_offset) slot in fixed {PACK_CAP}-token context windows,
    the step that turns a curated corpus into the sample layout a
    training run actually reads. Docs are never split; a doc whose
    tokens straddle a boundary overflows its sequence (streaming-
    packing semantics — the fill audit, not bin-perfect packing, is
    what pipelines run at scale). Placement is deterministic: lane =
    salted-md5(doc_id) mod {PACK_LANES} (the q69 stateless-writer
    rule), order within a lane is doc_id, so re-runs and resumes place
    every doc identically.

    Spark shape: one map-only pass computes (nt, lane), then ONE
    window — SUM(nt) partitioned by lane — i.e. a single shuffle on
    the lane key followed by an in-partition sort. There is no global
    ordering and no driver-side loop: each lane packs independently,
    which is exactly how 1000 writers pack 10^12 docs without a
    central counter; lane count is the parallelism dial."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("cast(size(split(trim(text), '\\\\s+')) as bigint)").alias("nt"),
        F.expr(
            f"cast(conv(substring(md5(concat('pack:', cast(doc_id as string))),"
            f" 1, 4), 16, 10) as bigint) % {PACK_LANES}"
        ).alias("lane"),
    )
    w = (
        Window.partitionBy("lane")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = d.withColumn("cum_before", F.coalesce(F.sum("nt").over(w), F.lit(0)))
    return c.select(
        "doc_id",
        "lane",
        "nt",
        F.expr(f"cum_before div {PACK_CAP}").cast("bigint").alias("seq_id"),
        (F.col("cum_before") % PACK_CAP).cast("bigint").alias("seq_offset"),
    )


@query(
    "q75_source_overlap_matrix",
    f"""
    WITH tok AS (
      SELECT doc_id, source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok,
             generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1) AS pos
      FROM documents
    ), chunk AS (
      SELECT doc_id, source, CAST(floor((pos - 1) / {PASSAGE_W}) AS INT) AS ci,
             string_agg(tok, ' ' ORDER BY pos) AS ptext
      FROM tok GROUP BY 1, 2, 3
    ), ph AS (
      SELECT DISTINCT doc_id, source,
             ('0x' || substr(md5(ptext), 1, 12))::BIGINT AS ph
      FROM chunk
    ), c AS (SELECT ph, source, COUNT(*) AS n FROM ph GROUP BY 1, 2)
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS n_shared_passages,
           CAST(SUM(a.n::HUGEINT * b.n) AS BIGINT) AS n_cross_pairs
    FROM c a JOIN c b ON a.ph = b.ph AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def q75(spark, sf_dir):
    """Cross-source overlap matrix — for every source pair, how many
    {PASSAGE_W}-word passages they share and how many cross-source
    document pairs carry them: the crawl-provenance diagnostic that
    tells a curation run which feeds re-scrape each other (and which
    source to keep when q53/q61 scrub the duplicates). Passage
    identity is the ONE shared definition in `_passage_hashes_expr`
    (q53/q61 lockstep convention), so the matrix counts exactly what
    the scrub would remove.

    Spark shape: in-row chunk+hash+distinct, explode, then the key
    trick — aggregate to per-(hash, source) COUNTS before the
    self-join, so each join key carries at most n_sources rows and the
    pair expansion is bounded by sources², never by dup-group size (a
    boilerplate passage in 10^6 docs contributes ONE row per source,
    not 10^12 pairs — the q18 df-cap concern engineered away instead
    of capped). One shuffle on the 8-byte hash, one tiny matrix agg."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    ph = d.select(
        "source", F.explode(F.expr(_passage_hashes_expr("toks"))).alias("ph")
    )
    c = ph.groupBy("ph", "source").agg(F.count("*").alias("n"))
    a, b = c.alias("a"), c.alias("b")
    j = a.join(
        b, (F.col("a.ph") == F.col("b.ph")) & (F.col("a.source") < F.col("b.source"))
    )
    return j.groupBy(
        F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
    ).agg(
        F.count("*").alias("n_shared_passages"),
        # both factors are corpus-sized doc counts: multiply and sum
        # WIDE (decimal(38,0) / HUGEINT), never in wrapping int64
        F.sum(F.expr("cast(a.n as decimal(38,0)) * b.n"))
        .cast("bigint")
        .alias("n_cross_pairs"),
    )


# Sliding-window training-chunk generation: CHUNK_W-token samples every
# CHUNK_STRIDE tokens (overlap = W - S preserves cross-boundary
# context). Sizing rule: W = model context budget per sample; S/W
# trades corpus inflation (factor ~W/S) against boundary loss.
CHUNK_W = 32
CHUNK_STRIDE = 24


@query(
    "q76_train_chunks",
    f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS nt FROM t
    ), g AS (
      SELECT doc_id, toks,
             unnest(range(0, CASE WHEN nt > {CHUNK_W}
                                  THEN (nt - {CHUNK_W} + {CHUNK_STRIDE} - 1)
                                       // {CHUNK_STRIDE}
                                  ELSE 0 END + 1)) AS chunk_id
      FROM s
    ), c AS (
      SELECT doc_id, chunk_id, chunk_id * {CHUNK_STRIDE} + 1 AS start_tok,
             list_slice(toks, chunk_id * {CHUNK_STRIDE} + 1,
                        chunk_id * {CHUNK_STRIDE} + {CHUNK_W}) AS chunk
      FROM g
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(len(chunk) AS BIGINT) AS chunk_toks,
           ('0x' || substr(md5(array_to_string(chunk, ' ')), 1, 12))::BIGINT
             AS chunk_hash
    FROM c
    """,
)
def q76(spark, sf_dir):
    """Sliding-window training-sample generation — split every
    document into {CHUNK_W}-token chunks every {CHUNK_STRIDE} tokens
    (the overlapping-window chunking a pretraining tokenizer pipeline
    emits so no span of text is lost at sample boundaries). The last
    window starts at the final stride position that still reaches the
    doc's tail, so coverage is total and the chunk count is the exact
    closed form ceil(max(0, nt-W)/S) + 1 — no per-row iteration
    anywhere. Each chunk carries a 48-bit content hash so the output
    is verifiable (and directly feeds chunk-level dedup) without
    shipping the text twice.

    Spark shape: strictly map-only — sequence/transform/slice build
    the chunk list in-row, one explode fans out 1→~nt/S rows, and
    every expression stays in WholeStageCodegen. Zero shuffles, zero
    Python: at 10^12 docs this is one pass over the corpus whose cost
    is the write, which is the floor for an op whose OUTPUT is ~W/S
    times its input."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    chunks = F.expr(
        f"transform("
        f"  sequence(0, case when size(toks) > {CHUNK_W}"
        f"                   then (size(toks) - {CHUNK_W} + {CHUNK_STRIDE} - 1)"
        f"                        div {CHUNK_STRIDE} else 0 end),"
        f"  i -> named_struct("
        f"    'chunk_id', cast(i as bigint),"
        f"    'start_tok', cast(i * {CHUNK_STRIDE} + 1 as bigint),"
        f"    'chunk', slice(toks, i * {CHUNK_STRIDE} + 1, {CHUNK_W})))"
    )
    e = d.select("doc_id", F.explode(chunks).alias("c"))
    return e.select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.start_tok").alias("start_tok"),
        F.expr("cast(size(c.chunk) as bigint)").alias("chunk_toks"),
        F.expr(
            "cast(conv(substring(md5(array_join(c.chunk, ' ')), 1, 12), 16, 10)"
            " as bigint)"
        ).alias("chunk_hash"),
    )


# Collocation mining: adjacent-word pairs scored by exact integer lift
# (observed/expected co-occurrence, scaled 1e6). Support floor keeps the
# candidate set bounded: at N tokens, #bigrams with count >= MIN_SUP is
# <= N/MIN_SUP. The lift numerator c_ab*N*1e6 is corpus-sized on BOTH
# factors, so it is computed WIDE in both engines — DECIMAL(38,0) in
# Spark, HUGEINT in DuckDB (headroom to 10^38 ≫ N²·1e6 at N=10^12) —
# never as a silently-wrapping int64 product; the integral quotient is
# then cast back to BIGINT.
COLL_MIN_SUP = 5
COLL_TOP_K = 50


@query(
    "q77_collocation_lift",
    f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ), uni AS (
      SELECT unnest(toks) AS w FROM t
    ), uc AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uc),
    bi AS (
      SELECT unnest(list_transform(
               range(1, len(toks)),
               i -> toks[i] || ' ' || toks[i + 1])) AS bg
      FROM t WHERE len(toks) >= 2
    ), bc AS (
      SELECT bg, COUNT(*) AS c_ab FROM bi GROUP BY bg
      HAVING COUNT(*) >= {COLL_MIN_SUP}
    )
    SELECT bg AS bigram, c_ab,
           u1.c AS c_a, u2.c AS c_b,
           CAST((c_ab::HUGEINT * n.n_tok * 1000000)
                // (u1.c::HUGEINT * u2.c) AS BIGINT)
             AS lift_e6
    FROM bc
    JOIN uc u1 ON u1.w = split_part(bg, ' ', 1)
    JOIN uc u2 ON u2.w = split_part(bg, ' ', 2)
    CROSS JOIN n
    ORDER BY lift_e6 DESC, bigram
    LIMIT {COLL_TOP_K}
    """,
)
def q77(spark, sf_dir):
    """Collocation mining — the top-{COLL_TOP_K} adjacent word pairs
    by exact integer lift (observed count x total tokens / product of
    unigram counts, scaled 1e6), with a {COLL_MIN_SUP}-occurrence
    support floor: the association-analysis pass a tokenizer team runs
    to find multi-word units ("New York", "et al") worth merging, and
    a curation team runs to spot template phrases. All-integer lift
    means bit-exact cross-engine ranking; ties break on the bigram
    string, so top-k is deterministic.

    Spark shape: bigrams are built IN-ROW (`zip_with` over the token
    array against its own 1-shifted slice — no self-join, no window,
    no positional explode-and-rejoin), so the corpus contributes one
    explode and two count shuffles (unigrams, bigrams). The support
    floor then bounds everything downstream — at N tokens at most
    N/{COLL_MIN_SUP} bigrams survive — and the two unigram-count joins
    run on that bounded set against the vocabulary (both sides are
    sub-corpus: vocab ~ N^0.7 by Heaps' law, survivors ~ N/K). The
    1-row token total rides a broadcast cross join. TakeOrdered keeps
    the top-k without a global sort."""
    t = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    uni = t.select(F.explode("toks").alias("w"))
    uc = uni.groupBy("w").agg(F.count("*").alias("c"))
    # total tokens from the vocabulary aggregate, NOT a second count
    # over the exploded corpus: uc's shuffle is identical to the join
    # sides', so AQE's runtime exchange reuse (verified: 2 ReusedExchange
    # in the final plan) makes the corpus pay exactly one unigram
    # explode pass
    n = uc.agg(F.sum("c").alias("n_tok"))
    bi = t.filter(F.size("toks") >= 2).select(
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, size(toks) - 1),"
                " slice(toks, 2, size(toks) - 1),"
                " (a, b) -> concat(a, ' ', b))"
            )
        ).alias("bg")
    )
    bc = (
        bi.groupBy("bg")
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= COLL_MIN_SUP)
    )
    u1 = uc.withColumnRenamed("w", "w1").withColumnRenamed("c", "c_a")
    u2 = uc.withColumnRenamed("w", "w2").withColumnRenamed("c", "c_b")
    j = (
        bc.withColumn("w1", F.expr("split_part(bg, ' ', 1)"))
        .withColumn("w2", F.expr("split_part(bg, ' ', 2)"))
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n))
    )
    return (
        j.select(
            F.col("bg").alias("bigram"),
            "c_ab",
            "c_a",
            "c_b",
            F.expr(
                "(cast(c_ab as decimal(38,0)) * n_tok * 1000000)"
                " div (cast(c_a as decimal(38,0)) * c_b)"
            )
            .cast("bigint")
            .alias("lift_e6"),
        )
        .orderBy(F.desc("lift_e6"), "bigram")
        .limit(COLL_TOP_K)
    )


@query(
    "q78_snapshot_diff",
    f"""
    WITH d AS (
      SELECT source, lang,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS nt,
             {_is_new_sql()} AS is_new
      FROM documents
    ),
    before AS (
      SELECT source, lang, COUNT(*) AS docs_before,
             CAST(SUM(nt) AS BIGINT) AS tokens_before
      FROM d WHERE NOT is_new GROUP BY 1, 2
    ),
    added AS (
      SELECT source, lang, COUNT(*) AS docs_added,
             CAST(SUM(nt) AS BIGINT) AS tokens_added
      FROM d WHERE is_new GROUP BY 1, 2
    )
    SELECT COALESCE(b.source, a.source) AS source,
           COALESCE(b.lang, a.lang) AS lang,
           COALESCE(b.docs_before, 0) AS docs_before,
           COALESCE(a.docs_added, 0) AS docs_added,
           COALESCE(b.tokens_before, 0) AS tokens_before,
           COALESCE(a.tokens_added, 0) AS tokens_added,
           CASE WHEN b.source IS NULL THEN 'new_cell'
                WHEN a.source IS NULL THEN 'no_growth'
                ELSE 'grew' END AS status
    FROM before b
    FULL OUTER JOIN added a
      ON a.source = b.source AND a.lang = b.lang
    """,
)
def q78(spark, sf_dir):
    """Snapshot reconciliation — the before/after ingest diff: per
    (source, lang) cell, document and token mass in the curated
    snapshot vs the newly ingested batch (q73's batch-membership
    rule, shared), FULL OUTER joined so cells that exist on only one
    side surface explicitly ('new_cell': the batch introduced a
    source x lang combination the snapshot never had; 'no_growth':
    a snapshot cell the crawl no longer feeds). This is the audit a
    pipeline operator reads after every incremental run to catch a
    feed that silently died or a language that suddenly appeared.

    Spark shape: each side is one partial-aggregated groupBy that
    collapses map-side to sources x langs cells, then a FULL OUTER
    join between two dimension-sized relations — the one join type the
    rest of the suite doesn't exercise, running here where it belongs:
    on reconciliation tables, never on the corpus. In production the
    two sides are two different tables (the snapshot manifest and the
    new batch), each scanned once; in this fixture both derive from
    `documents`, so the corpus is scanned once per side — the price of
    the fixture, not of the plan."""
    d = load(spark, sf_dir, "documents").select(
        "source",
        "lang",
        F.expr("cast(size(split(trim(text), '\\\\s+')) as bigint)").alias("nt"),
        _is_new_col().alias("is_new"),
    )
    before = (
        d.filter("NOT is_new")
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("docs_before"),
            F.sum("nt").cast("bigint").alias("tokens_before"),
        )
    )
    added = (
        d.filter("is_new")
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("docs_added"),
            F.sum("nt").cast("bigint").alias("tokens_added"),
        )
    )
    b, a = before.alias("b"), added.alias("a")
    j = b.join(
        a,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.lang") == F.col("b.lang")),
        "full_outer",
    )
    return j.select(
        F.coalesce(F.col("b.source"), F.col("a.source")).alias("source"),
        F.coalesce(F.col("b.lang"), F.col("a.lang")).alias("lang"),
        F.coalesce(F.col("b.docs_before"), F.lit(0)).alias("docs_before"),
        F.coalesce(F.col("a.docs_added"), F.lit(0)).alias("docs_added"),
        F.coalesce(F.col("b.tokens_before"), F.lit(0)).alias("tokens_before"),
        F.coalesce(F.col("a.tokens_added"), F.lit(0)).alias("tokens_added"),
        F.when(F.col("b.source").isNull(), F.lit("new_cell"))
        .when(F.col("a.source").isNull(), F.lit("no_growth"))
        .otherwise(F.lit("grew"))
        .alias("status"),
    )


# Rate-anomaly detection: each (event_type, hour) bucket is compared
# to the mean of its previous ANOM_BASE observed hours (ROWS frame —
# deterministic under gaps: the baseline is the last K OBSERVED hours,
# which is also what keeps the state bounded in a streaming twin).
# Thresholds are exact ppm ratios: spike >= 3x baseline, quiet <= 1/3.
ANOM_BASE = 24
ANOM_SPIKE_E6 = 3_000_000
ANOM_QUIET_E6 = 333_333


@query(
    "q79_rate_anomaly",
    f"""
    WITH hourly AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), base AS (
      SELECT hour, event_type, n,
             COALESCE(SUM(n) OVER w, 0) AS base_sum,
             COUNT(n) OVER w AS base_hours
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN {ANOM_BASE} PRECEDING AND 1 PRECEDING)
    )
    SELECT hour, event_type, n,
           CAST(base_hours AS BIGINT) AS base_hours,
           CAST(base_sum AS BIGINT) AS base_sum,
           CAST(CASE WHEN base_hours = 0 THEN 0
                     ELSE (n::HUGEINT * 1000000 * base_hours) // base_sum
                END AS BIGINT) AS ratio_e6,
           CASE WHEN base_hours = 0 THEN 'warmup'
                WHEN (n::HUGEINT * 1000000 * base_hours) // base_sum
                     >= {ANOM_SPIKE_E6} THEN 'spike'
                WHEN (n::HUGEINT * 1000000 * base_hours) // base_sum
                     <= {ANOM_QUIET_E6} THEN 'quiet'
                ELSE 'normal' END AS flag
    FROM base
    """,
)
def q79(spark, sf_dir):
    """Event-rate anomaly detection — flag each (event_type, hour)
    whose count spikes to ≥3x (or collapses to ≤1/3 of) the mean of
    its previous {ANOM_BASE} observed hours: the feed-health monitor a
    pipeline operator runs over ingest telemetry to catch a crawler
    going haywire or a source going dark. The ratio is an exact ppm
    integer (n·1e6·K div sum — the mean never exists as a float), so
    flags are bit-identical cross-engine; the first hours of a type are
    'warmup', never a division by zero.

    Spark shape: the corpus-sized relation (events) is touched by ONE
    hourly groupBy with map-side partials; everything after — the
    trailing-window frame, the ratio, the flag — runs on the
    hours x types aggregate, which is dimension-sized at any corpus
    scale. A ROWS (not RANGE) frame makes the baseline 'last K
    observed hours': deterministic under gaps and O(K) state for the
    streaming twin."""
    hourly = (
        load(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-ANOM_BASE, -1)
    )
    base = hourly.select(
        "hour",
        "event_type",
        "n",
        F.count("n").over(w).cast("bigint").alias("base_hours"),
        F.coalesce(F.sum("n").over(w), F.lit(0)).cast("bigint").alias("base_sum"),
    )
    # n is the one corpus-sized factor: multiply WIDE (decimal(38,0) /
    # HUGEINT) — the q77 rule — so a hot hour can't wrap int64
    ratio = F.expr(
        "(cast(n as decimal(38,0)) * 1000000 * base_hours) div base_sum"
    )
    return base.select(
        "hour",
        "event_type",
        "n",
        "base_hours",
        "base_sum",
        F.when(F.col("base_hours") == 0, F.lit(0))
        .otherwise(ratio)
        .cast("bigint")
        .alias("ratio_e6"),
        F.when(F.col("base_hours") == 0, F.lit("warmup"))
        .when(ratio >= ANOM_SPIKE_E6, F.lit("spike"))
        .when(ratio <= ANOM_QUIET_E6, F.lit("quiet"))
        .otherwise(F.lit("normal"))
        .alias("flag"),
    )


# Bloom membership sketch: BLOOM_K probe bits per key via Kirsch–
# Mitzenmacher double hashing (one md5 per key, b_r = (h1 + r*h2) mod
# M — the q60 addressing trick). M must be PRIME here: K–M needs
# gcd(h2, M) = 1, which "h2 odd" (q60's trick) only guarantees for
# power-of-2 M; with composite M the K probes of keys whose h2 shares
# a factor collapse onto a coset and the FP formula below breaks. So
# M = 251 (prime) and h2 ∈ [1, 250] is always coprime. Bit b lives in
# word b div 63, position b mod 63 — at most 63 bits per int64 word,
# so the sign bit is never set and two's-complement semantics can't
# diverge between engines (DuckDB raises on 1<<63). Sizing rule: at n
# keys/source, false-positive rate ≈ (1 - e^(-K*n/M))^K; production M
# scales with n (bits ~ 10n for ~1%), always to a prime.
BLOOM_WORDS = 4
BLOOM_BITS = 251  # prime; words of 63 bits, word 3 uses 62
BLOOM_K = 3


@query(
    "q80_bloom_sketch",
    f"""
    WITH f AS (
      SELECT source, {textstats.fingerprint_sql('text')} AS fp FROM documents
    ), h AS (
      SELECT source,
             ('0x' || substr(md5(fp), 1, 12))::BIGINT % {BLOOM_BITS} AS h1,
             ('0x' || substr(md5(fp), 13, 12))::BIGINT % {BLOOM_BITS - 1} + 1
               AS h2
      FROM f
    ), bits AS (
      SELECT source,
             ((h1 + r.r * h2) % {BLOOM_BITS}) // 63 AS word_idx,
             1::BIGINT << CAST((h1 + r.r * h2) % {BLOOM_BITS} % 63 AS INT)
               AS bit_val
      FROM h, (VALUES (0), (1), (2)) r(r)
    )
    SELECT source, CAST(word_idx AS BIGINT) AS word_idx,
           CAST(bit_or(bit_val) AS BIGINT) AS word_val,
           CAST(bit_count(bit_or(bit_val)) AS BIGINT) AS bits_in_word
    FROM bits GROUP BY 1, 2
    """,
)
def q80(spark, sf_dir):
    """Per-source Bloom membership sketch over canonical-text
    fingerprints — the third sketch of the family (q59 HLL answers
    "how many distinct", q60 count-min answers "how often", Bloom
    answers "have we seen this?"): the structure an incremental-dedup
    probe (q73) consults before touching the snapshot at all. {BLOOM_K}
    bits per key by Kirsch–Mitzenmacher double hashing from ONE md5
    (prime M, so every h2 is coprime — see the constant block);
    {BLOOM_BITS} bits packed 63-per-int64-word, so the sketch is
    bit-exact cross-engine and the driver's hash gate can verify it —
    an engine-native bloom_filter_agg could not be oracle-checked.

    Spark shape: hashing and the {BLOOM_K}-cell fan-out are in-row
    (the fan-out multiplies rows by {BLOOM_K} BEFORE the partial
    aggregate collapses each task to ≤ sources x {BLOOM_WORDS} rows),
    so the ONE shuffle carries sketch words, never keys — the q59/q60
    discipline. Union across shards = element-wise OR, which is why
    bit_or is the aggregate: 1000 executors each build a partial bloom
    and the combine is free."""
    f = load(spark, sf_dir, "documents").select(
        "source", textstats.fingerprint_col(F.col("text")).alias("fp")
    )
    h = f.select(
        "source",
        F.expr(
            f"cast(conv(substring(md5(fp), 1, 12), 16, 10) as bigint)"
            f" % {BLOOM_BITS}"
        ).alias("h1"),
        F.expr(
            f"cast(conv(substring(md5(fp), 13, 12), 16, 10) as bigint)"
            f" % {BLOOM_BITS - 1} + 1"
        ).alias("h2"),
    )
    bits = h.select(
        "source",
        F.explode(
            F.expr(
                f"transform(sequence(0, {BLOOM_K - 1}), r -> named_struct("
                f" 'word_idx', cast(((h1 + r * h2) % {BLOOM_BITS}) div 63"
                f"             as bigint),"
                f" 'bit_val', shiftleft(cast(1 as bigint),"
                f"            cast((h1 + r * h2) % {BLOOM_BITS} % 63 as int))))"
            )
        ).alias("b"),
    )
    return bits.groupBy("source", F.col("b.word_idx").alias("word_idx")).agg(
        F.expr("bit_or(b.bit_val)").cast("bigint").alias("word_val"),
        F.expr("cast(bit_count(bit_or(b.bit_val)) as bigint)").alias(
            "bits_in_word"
        ),
    )


@query(
    "q81_winsorized_stats",
    """
    WITH b AS (
      SELECT lang, COUNT(*) AS n_docs,
             CAST(ROUND(quantile_cont(n_chars, 0.1) * 10) AS BIGINT)
               AS p10_e1,
             CAST(ROUND(quantile_cont(n_chars, 0.9) * 10) AS BIGINT)
               AS p90_e1
      FROM documents GROUP BY lang
    )
    SELECT d.lang, b.n_docs, b.p10_e1, b.p90_e1,
           CAST(SUM(GREATEST(b.p10_e1, LEAST(b.p90_e1, d.n_chars * 10)))
                * 10 // b.n_docs AS BIGINT) AS winsor_mean_e2,
           CAST(SUM(CASE WHEN d.n_chars * 10 < b.p10_e1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clamped_low,
           CAST(SUM(CASE WHEN d.n_chars * 10 > b.p90_e1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clamped_high
    FROM documents d JOIN b USING (lang)
    GROUP BY 1, 2, 3, 4
    """,
)
def q81(spark, sf_dir):
    """Winsorized (robust) length statistics per language — the
    outlier-insensitive mean a curation report quotes when a handful
    of giant concatenation-artifact docs would otherwise dominate the
    arithmetic mean: every value is clamped into [p10, p90] before
    averaging, and the clamp counts expose how heavy each tail is.
    Bounds are q57's exact linear-interpolated percentiles (p in
    tenths ⇒ value x 10 is an exact integer), the winsorized mean is
    an exact e2 integer (sum_e1 x 10 div n) — no float anywhere on the
    Spark side; the oracle runs DuckDB's genuine quantile_cont and
    ROUND bridges double representation noise (q57's convention).

    Spark shape: the q57 histogram discipline end-to-end — ONE
    (lang, n_chars) groupBy collapses the corpus map-side to the
    histogram (state per task = distinct lengths, never rows), the
    percentile bounds come from rank-range selection over that
    histogram, and — the point — the winsorized sums are ALSO computed
    on the histogram (cnt x clamped value), so the corpus is touched
    exactly once and never re-joined: clamp + mean + tail counts all
    run on a dimension-sized relation broadcast-joined to its own
    12-row bounds table."""
    d = load(spark, sf_dir, "documents").select("lang", "n_chars")
    h2 = _length_histogram(d)
    bounds = _percentile_e1_bounds(h2, ((1, "p10"), (9, "p90")))
    j = h2.select("lang", "n_chars", "cnt").join(F.broadcast(bounds), "lang")
    clamped = F.expr("greatest(p10_e1, least(p90_e1, n_chars * 10))")
    return (
        j.groupBy("lang")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.max("p10_e1").alias("p10_e1"),
            F.max("p90_e1").alias("p90_e1"),
            F.sum(F.col("cnt") * clamped).alias("s_e1"),
            F.sum(
                F.when(F.expr("n_chars * 10") < F.col("p10_e1"), F.col("cnt"))
                .otherwise(F.lit(0))
            ).alias("n_low"),
            F.sum(
                F.when(F.expr("n_chars * 10") > F.col("p90_e1"), F.col("cnt"))
                .otherwise(F.lit(0))
            ).alias("n_high"),
        )
        .select(
            "lang",
            "n_docs",
            "p10_e1",
            "p90_e1",
            F.expr("(s_e1 * 10) div n_docs").cast("bigint").alias(
                "winsor_mean_e2"
            ),
            F.col("n_low").cast("bigint").alias("n_clamped_low"),
            F.col("n_high").cast("bigint").alias("n_clamped_high"),
        )
    )


@query(
    "q61_passage_scrub",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok,
             generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1) AS pos
      FROM documents
    ), chunk AS (
      SELECT doc_id, CAST(floor((pos - 1) / {PASSAGE_W}) AS INT) AS ci,
             string_agg(tok, ' ' ORDER BY pos) AS ptext
      FROM tok GROUP BY 1, 2
    ), ch AS (
      SELECT doc_id, ci, ptext,
             ('0x' || substr(md5(ptext), 1, 12))::BIGINT AS ph
      FROM chunk
    ), own AS (
      SELECT ph, MIN(doc_id) AS keeper, COUNT(DISTINCT doc_id) AS nd
      FROM ch GROUP BY 1
    ), kept AS (
      SELECT c.doc_id, c.ci, c.ptext
      FROM ch c JOIN own o USING (ph)
      WHERE o.nd = 1 OR c.doc_id = o.keeper
    ), agg AS (
      SELECT doc_id, string_agg(ptext, ' ' ORDER BY ci) AS clean_text,
             COUNT(*) AS n_kept
      FROM kept GROUP BY 1
    ), tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM ch GROUP BY 1)
    SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(t.n_chunks - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped
    FROM documents d
    JOIN tot t USING (doc_id) LEFT JOIN agg a USING (doc_id)
    """,
)
def q61(spark, sf_dir):
    """Passage scrub — the MATERIALIZATION counterpart of q53's report
    (RefinedWeb-style): cross-doc duplicated passages are removed from
    every document except the keeper (min doc_id among holders), and
    the cleaned text is reassembled in original passage order. This is
    the transformation a training run actually reads.

    Spark shape: the document text NEVER rides a shuffle. Ownership is
    decided over the (doc_id, passage-hash) projection only (distinct
    in-row → min/count groupBy on the 8-byte hash); each non-keeper
    doc's dropped-hash SET (small: only its shared passages) is
    aggregated and joined back onto the corpus by doc_id — AQE
    broadcasts it at this SF; at production scale both sides are
    bucketed by doc_id (`write_bucketed`) so the join is co-located —
    and the scrub itself re-chunks, filters, and reassembles IN-ROW
    against that set. The naive formulation (join verdicts onto
    exploded chunk rows, regroup by doc) would shuffle the full corpus
    text twice. The oracle IS that naive relational formulation, so the
    gate proves the in-row rewrite equivalent."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    chunks_expr = _passage_chunks_expr()
    ph_of = _passage_hash_expr("c.ptext")
    pairs = d.select(
        "doc_id", F.explode(F.expr(_passage_hashes_expr())).alias("ph")
    )
    own = pairs.groupBy("ph").agg(
        F.min("doc_id").alias("keeper"), F.count("*").alias("nd")
    )
    dropped = (
        pairs.join(own, "ph")
        .filter((F.col("nd") > 1) & (F.col("doc_id") != F.col("keeper")))
        .groupBy("doc_id")
        .agg(F.collect_list("ph").alias("dropped"))
    )
    d2 = (
        d.join(dropped, "doc_id", "left")
        # chunk once per row; kept/counts reference the materialized array
        .select("doc_id", "dropped", F.expr(chunks_expr).alias("chunks"))
    )
    kept_arr = F.expr(
        "CASE WHEN dropped IS NULL THEN chunks"
        f" ELSE filter(chunks, c -> NOT array_contains(dropped, {ph_of})) END"
    )
    return d2.select(
        "doc_id",
        kept_arr.alias("kept"),
        F.expr("size(chunks)").alias("n_chunks"),
    ).select(
        "doc_id",
        F.expr("concat_ws(' ', transform(kept, c -> c.ptext))").alias(
            "clean_text"
        ),
        F.expr("cast(size(kept) as bigint)").alias("n_kept"),
        F.expr("cast(n_chunks - size(kept) as bigint)").alias("n_dropped"),
    )


# Count-min sketch parameters: CM_D independent hash rows of CM_W
# counters. Point-query estimate = min over rows of the addressed
# counter — always >= the true count, with overestimate bounded by
# ~total/CM_W per row. Counters are exact int64 sums of md5-derived
# cell assignments, so the distributed sketch is bit-exact across
# engines (the q59 principle applied to the frequency domain).
# Cell addressing is Kirsch–Mitzenmacher double hashing — ONE md5 per
# word, row r's cell = (h1 + r*h2) mod CM_W with h2 forced odd so it
# cycles the power-of-two width — which measured 2x faster than four
# independent md5 calls per word at sf0.1 (2.65s -> see PLANS.md).
CM_D = 4
CM_W = 256
# h1 = low byte of the 48-bit hash; h2 = next 7 bits, made odd
_CM_H1 = "(h % 256)"
_CM_H2_SQL = "(((h // 256) % 128) * 2 + 1)"
_CM_H2_SPARK = "(((h div 256) % 128) * 2 + 1)"


@query(
    "q60_countmin_sketch",
    f"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ), tot AS (
      SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY 1
    ), hsh AS (
      SELECT ('0x' || substr(md5('cm:' || tok), 1, 12))::BIGINT AS h, cnt
      FROM tot
    )
    SELECT CAST(r.r AS BIGINT) AS r,
           ({_CM_H1} + r.r * {_CM_H2_SQL}) % {CM_W} AS c,
           CAST(SUM(cnt) AS BIGINT) AS total
    FROM hsh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) r
    GROUP BY 1, 2
    """,
)
def q60(spark, sf_dir):
    """Count-min sketch build over the corpus's token stream — the
    frequency-sketch counterpart to q59's HLL (distinct): {CM_D}×{CM_W}
    exact int64 counters supporting heavy-hitter point queries with a
    one-sided error bound, where an exact per-token count at 10^12 rows
    would shuffle the full Zipf-skewed vocabulary.

    Spark shape: per-document token counts are computed IN-ROW first
    (the q51 pattern — one exploded row per (doc, distinct word), never
    per token), each distinct word fans out to its {CM_D} cells IN-ROW
    (flatten/transform), and ONE groupBy sums into at most
    {CM_D}·{CM_W} = {CM_D * CM_W} cells — map-side partials collapse
    every task to sketch-size before the exchange, so the shuffle
    carries sketches, never tokens. Hot words are absorbed per-task
    exactly like q51. Cross-engine-exact: cells are md5-addressed,
    counters are integer sums (tests pin the >= -truth point-query
    bound and that argmin-estimate identifies the planted heavy
    hitter)."""
    d = load(spark, sf_dir, "documents").select(
        F.split(F.trim("text"), r"\s+").alias("toks")
    )
    h2 = _CM_H2_SPARK.replace("h ", "p.h ")
    h1 = _CM_H1.replace("h ", "p.h ")
    cells = F.expr(
        f"flatten(transform("
        f" transform(array_distinct(toks), w -> struct("
        f"  cast(conv(substring(md5(concat('cm:', w)), 1, 12), 16, 10)"
        f"   as bigint) AS h,"
        f"  cast(size(filter(toks, x -> x = w)) as bigint) AS cnt)),"
        f" p -> transform(sequence(0, {CM_D - 1}),"
        f"  r -> struct(cast(r as bigint) AS r,"
        f"   ({h1} + r * {h2}) % {CM_W} AS c,"
        f"   p.cnt AS cnt))))"
    )
    return (
        d.select(F.explode(cells).alias("p"))
        .select("p.r", "p.c", "p.cnt")
        .groupBy("r", "c")
        .agg(F.sum("cnt").alias("total"))
    )


# =====================================================================
# Multimodal: binary media columns through the stubbed-codec kernels
# (no DuckDB oracle — binary decode is not SQL-expressible; the driver
# records the weaker rows-only check, full value checks live in
# tests/test_multimodal.py)
# =====================================================================

@query(
    "q30_media_features",
    f"""
    SELECT media_type, n_rows, error_rows, total_units
    FROM '{_golden_path("q30_summary.parquet")}'
    """,
)
def q30(spark, sf_dir):
    """Image/audio/video fixture rows → decoded metadata via the
    mapInPandas fake-codec kernels, aggregated per media_type. Sorted
    deterministic output; the stub boundary (real PNG magic) surfaces
    as error_rows=1. Value-checked against the committed golden parquet
    (tools/make_golden.py runs the SAME pure kernels on plain pandas
    batches, no Spark plumbing) — distributed Arrow batching must
    reproduce the single-node result exactly."""
    from .operators.multimodal import audio_features, frame_sample, image_meta
    from .synth import media_to_spark, synth_media

    # 120 fixture rows don't need 32 partitions: coalesce so the three
    # kernel branches don't each fan out one Python worker per empty
    # partition (at real scale the media table arrives pre-partitioned
    # from storage and this narrow coalesce is a no-op decision).
    media = media_to_spark(spark, synth_media(120, seed=42)).coalesce(4)
    img = image_meta(media.filter(F.col("media_type") == "image")).agg(
        F.lit("image").alias("media_type"),
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("error_rows"),
        F.sum(F.when(F.col("error").isNull(), F.col("width") * F.col("height"))).alias(
            "total_units"
        ),
    )
    aud = audio_features(media.filter(F.col("media_type") == "audio")).agg(
        F.lit("audio").alias("media_type"),
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("error_rows"),
        F.sum(F.when(F.col("error").isNull(), F.col("duration_ms"))).alias(
            "total_units"
        ),
    )
    vid = frame_sample(media.filter(F.col("media_type") == "video"), every_k=5).agg(
        F.lit("video").alias("media_type"),
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("error_rows"),
        F.count(F.when(F.col("error").isNull(), 1)).alias("total_units"),
    )
    return img.unionAll(aud).unionAll(vid).orderBy("media_type")


# =====================================================================
# Sinks / batch-output aggregation (A12-A14)
# =====================================================================

@query(
    "q31_markdown_blocks",
    f"""
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           '=== ' || CAST(doc_id AS VARCHAR) || ' ===' || chr(10) ||
           {german.normalize_sql('text')} || chr(10) ||
           trim(regexp_replace(text, '\\s+', ' ', 'g')) AS block
    FROM documents
    """,
)
def q31(spark, sf_dir):
    """A13: the CLI's '=== name ===' block concatenation (cli.py:90-93)
    over the flagship pipeline's extracted spans — collect_list ordered
    by the explicit order column, value-checked by recomputing both
    kernels in SQL."""
    from .operators.extract import extract_pipeline
    from .sinks import markdown_blocks

    d = load(spark, sf_dir, "documents")
    docs = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("ocr").alias("kind"),
                F.col("text").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
            F.struct(
                F.lit("text").alias("kind"),
                F.concat(F.lit("  "), F.col("text"), F.lit(" \t")).alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(10).alias("offset"),
            ),
        ).alias("spans"),
    )
    return markdown_blocks(extract_pipeline(docs))


_Q32_GOLDEN = _golden_path("q32_spans.parquet")


@query(
    "q32_extract_html_pdf",
    f"""
    SELECT doc_id, "order", kind, text, media_ref, error, error_code
    FROM '{_Q32_GOLDEN}'
    """,
)
def q32(spark, sf_dir):
    """The HTML-boilerplate (B5) and XY-cut PDF (B6) kernels through the
    full distributed pipeline over the deterministic synthetic corpus,
    value-checked against the committed SINGLE-NODE golden parquet
    (tests/golden/q32_spans.parquet, regenerated by
    tools/make_golden.py): the same pure pandas kernels run through the
    plain-pandas golden_extract path with none of the Spark plumbing.
    The oracle is a straight SELECT of that file, so the driver verifies
    that Arrow batching, salted repartition, and the shuffle-free
    in-row ordering reproduce the single-node result byte-for-byte —
    the engine's centerpiece kernels get a full hash gate instead of a
    rows-only count."""
    from .operators.extract import extract_pipeline
    from .synth import synth_docs_distributed

    # 400 fixture docs: size the generation partitioning to the data
    # (default 2x-parallelism partitioning exists for real corpora; at
    # 6 docs/partition the per-task Python/Arrow overhead would dwarf
    # the kernels ~60:1).
    docs = synth_docs_distributed(spark, 400, seed=42, n_partitions=8).filter(
        F.exists("spans", lambda s: s["kind"].isin("html", "pdf"))
    )
    out = extract_pipeline(docs, salt_partitions=16)
    return out.filter(F.col("kind").isin("html", "pdf")).select(
        "doc_id", "order", "kind", "text", "media_ref", "error", "error_code"
    )


# =====================================================================
# Embedding-cosine near-dup DEDUP (distinct from q21/q22 similarity
# search: threshold pairs inside LSH buckets → canonical-keeper
# assignment, the actual "drop these rows" decision a training-data
# pipeline executes)
# =====================================================================

@query(
    "q34_embedding_near_dup",
    _EMB_DIMS_CTE
    + ","
    + _SIGN_BUCKET_SQL
    + """
    , dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             CAST(SUM(CAST(da.v * db.v AS DECIMAL(28,12))) AS DOUBLE) AS dot
      FROM buckets a JOIN buckets b
           ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      JOIN dims da ON da.vec_id = a.vec_id
      JOIN dims db ON db.vec_id = b.vec_id AND db.pos = da.pos
      GROUP BY 1, 2
    ), pairs AS (
      SELECT vec_a, vec_b,
             (floor(dot / (na.nrm * nb.nrm) * 1000000.0) / 1000000.0) AS cos_sim
      FROM dots JOIN norms na ON na.vec_id = vec_a
                JOIN norms nb ON nb.vec_id = vec_b
      WHERE (floor(dot / (na.nrm * nb.nrm) * 1000000.0) / 1000000.0) >= 0.30
    )
    SELECT vec_b AS dup_id, MIN(vec_a) AS keeper,
           COUNT(*) AS n_matches, MAX(cos_sim) AS best_cos
    FROM pairs GROUP BY vec_b
    """,
)
def q34(spark, sf_dir):
    # Embedding-cosine near-dup dedup: sign-LSH buckets bound the pair
    # space (bucket equi-join, never all-pairs), exact in-row cosine
    # confirms, then each vector whose similarity to a LOWER-id
    # bucket-mate clears the threshold is marked a duplicate of the
    # smallest such keeper — the deterministic drop-list. At 10^12
    # scale the bucket join shuffles only on the bucket key and AQE
    # splits hot buckets; generalizes the reference's batch result
    # aggregation (german_ocr/cli.py:83-93) into corpus-level curation.
    pairs = _bucketed_cos_pairs(spark, sf_dir).filter(F.col("cos_sim") >= 0.30)
    return pairs.groupBy(F.col("vec_b").alias("dup_id")).agg(
        F.min("vec_a").alias("keeper"),
        F.count("*").alias("n_matches"),
        F.max("cos_sim").alias("best_cos"),
    )


# =====================================================================
# BPE-ish regex tokenization + rolling-hash winnowing fingerprints
# (text-analysis family: the task brief's "whitespace + a BPE-ish
# regex" token counter and "document fingerprinting (rolling hash)")
# =====================================================================

# GPT-2-style pretokenizer, simplified to the dialect subset Java regex
# and RE2 evaluate identically: letter runs (with German umlauts/ß),
# digit runs, and punctuation runs, each with an optional leading space.
_BPE_PAT = r" ?[A-Za-zÄÖÜäöüß]+| ?[0-9]+| ?[^A-Za-z0-9ÄÖÜäöüß\s]+"


@query(
    "q35_bpe_token_count",
    f"""
    SELECT doc_id,
           {textstats.token_count_sql('text')} AS n_ws_tokens,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE length(regexp_extract_all(text,
                  ' ?[A-Za-zÄÖÜäöüß]+| ?[0-9]+| ?[^A-Za-z0-9ÄÖÜäöüß\\s]+'))
           END AS n_bpe_tokens
    FROM documents
    """,
)
def q35(spark, sf_dir):
    # Token counting two ways: whitespace split and a BPE-ish
    # pretokenizer regex (GPT-2-family pattern restricted to the
    # Java/RE2-identical subset). Both are single-pass JVM codegen
    # expressions — zero shuffle, zero Python; at 100 TB this is the
    # map-only per-document token budget pass before packing.
    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    n_bpe = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(
        F.size(F.regexp_extract_all(t, F.lit(_BPE_PAT), F.lit(0)))
    )
    return d.select(
        "doc_id",
        textstats.token_count_col(t).alias("n_ws_tokens"),
        n_bpe.cast("long").alias("n_bpe_tokens"),
    )


@query(
    "q36_winnow_fingerprint",
    r"""
    WITH canon AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS c
      FROM documents
    ), grams AS (
      SELECT doc_id,
             list_transform(
               generate_series(1, greatest(length(c) - 7, 1)),
               i -> md5(substring(c, CAST(i AS INTEGER), 8))) AS hs
      FROM canon
    ), wins AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(length(hs) - 3, 1)),
               j -> list_min(hs[CAST(j AS INTEGER):CAST(j + 3 AS INTEGER)]))) AS fps
      FROM grams
    )
    SELECT doc_id, length(fps) AS n_fps, list_min(fps) AS min_fp FROM wins
    """,
)
def q36(spark, sf_dir):
    # Rolling-hash winnowing fingerprints (Schleimer/Wilkerson/Aiken
    # MOSS scheme): char 8-gram hashes → min-hash per sliding window of
    # 4 → distinct mins are the document's fingerprint set. Computed
    # ENTIRELY in-row with higher-order array functions (sequence /
    # transform / slice / array_min) — a map-only, zero-shuffle,
    # zero-Python plan that scales linearly with executors; the
    # fingerprint set then feeds the same groupBy dedup as q17.
    d = load(spark, sf_dir, "documents")
    canon = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    grams = d.select("doc_id", canon.alias("c")).select(
        "doc_id",
        F.expr(
            "transform(sequence(1, greatest(length(c) - 7, 1)),"
            " i -> md5(substring(c, i, 8)))"
        ).alias("hs"),
    )
    wins = grams.select(
        "doc_id",
        F.expr(
            "array_distinct(transform(sequence(1, greatest(size(hs) - 3, 1)),"
            " j -> array_min(slice(hs, j, 4))))"
        ).alias("fps"),
    )
    return wins.select(
        "doc_id",
        F.size("fps").cast("long").alias("n_fps"),
        F.array_min("fps").alias("min_fp"),
    )


# =====================================================================
# Streaming surface in the driver contract: the windowed-rates
# transformation value-checked in batch mode (identical semantics),
# plus a real availableNow streaming run (rows-only)
# =====================================================================

@query(
    "q37_windowed_rates",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR,
                    '%Y-%m-%d %H:%M:%S') AS win_end,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def q37(spark, sf_dir):
    # The streaming windowed-rates transformation (watermark + tumbling
    # event-time window, streaming/incremental.py) run on the batch
    # events table — Structured Streaming transformations are plan
    # fragments, so the SAME function runs under readStream (see
    # q38 / tests/test_streaming.py) and here, where DuckDB can
    # value-check it: 1-hour tumbling windows == date_trunc('hour').
    from .streaming.incremental import windowed_rates

    ev = load(spark, sf_dir, "events")
    r = windowed_rates(ev, watermark="30 minutes", window="1 hour")
    return r.select(
        F.date_format("win_start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        F.date_format("win_end", "yyyy-MM-dd HH:mm:ss").alias("win_end"),
        "event_type",
        "n",
        "sum_value",
    )


@query(
    "q38_stream_extract",
    f"""
    SELECT kind, n_spans, total_chars, error_rows, content_hash
    FROM '{_golden_path("q38_summary.parquet")}'
    """,
)
def q38(spark, sf_dir):
    """A real Structured Streaming run of the extraction pipeline:
    availableNow trigger over a synthesized parquet drop directory,
    exactly-once per file via the checkpoint, append-mode parquet sink.
    Value-checked against the committed golden parquet
    (tools/make_golden.py: the same corpus through the pure-pandas
    golden path, summarized with the same md5 content hash) — so the
    driver's hash gate proves the STREAMING execution (file discovery,
    checkpointed exactly-once, Arrow batches) reproduces the
    single-node result, not just a row count. Deterministic: fresh
    checkpoint + input per invocation."""
    import shutil
    import tempfile

    from .streaming.incremental import stream_extract
    from .synth import synth_docs_distributed

    # unique workspace per invocation: concurrent callers (bench +
    # validator) must not rmtree each other's live checkpoints
    base = tempfile.mkdtemp(prefix="german_ocr_spark_q38_")
    inp, out, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
    try:
        synth_docs_distributed(spark, 300, seed=11, n_partitions=6).write.parquet(
            inp
        )
        q = stream_extract(spark, inp, out, ck, available_now=True)
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("q38 stream did not drain within 300s")
        ex = spark.read.parquet(out)
        summary = _q38_summary(ex)
        # materialize before deleting the workspace the plan reads from
        rows = summary.collect()
        return spark.createDataFrame(rows, schema=summary.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _q38_summary(ex: DataFrame) -> DataFrame:
    # content_hash is md5 over the sorted doc_id|order|text lines —
    # md5 (not xxhash64) so the plain-pandas golden generator
    # (tools/make_golden.py) reproduces it bit-for-bit with hashlib.
    return (
        ex.groupBy("kind")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.length("text")).alias("total_chars"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias(
                "error_rows"
            ),
            F.md5(
                F.encode(
                    F.concat_ws(
                        "\x1f",
                        F.sort_array(
                            F.collect_list(
                                F.concat_ws("|", "doc_id", "order", "text")
                            )
                        ),
                    ),
                    "UTF-8",
                )
            ).alias("content_hash"),
        )
        .orderBy("kind")
    )


# =====================================================================
# Flagship: the extraction pipeline itself, oracle-checked
# =====================================================================

@query(
    "q00_extract_pipeline",
    f"""
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, 0 AS "order", 'ocr' AS kind,
           {german.normalize_sql('text')} AS text,
           '' AS media_ref, CAST(NULL AS VARCHAR) AS error,
           CAST(NULL AS VARCHAR) AS error_code
    FROM documents
    UNION ALL
    SELECT CAST(doc_id AS VARCHAR), 1, 'text',
           trim(regexp_replace(text, '\\s+', ' ', 'g')), '', NULL, NULL
    FROM documents
    """,
)
def q00(spark, sf_dir):
    """The flagship mapInPandas extraction pipeline (SURVEY A5/A6/B2/B7/
    B8) run over spans synthesized from the documents table: span 0 is an
    'ocr' span (German normalization kernel), span 1 a whitespace-dirty
    'text' span. The DuckDB oracle recomputes both kernels in SQL, so the
    explode → order → Arrow-batch kernel → output path is value-checked
    end to end."""
    from .operators.extract import extract_pipeline

    d = load(spark, sf_dir, "documents")
    docs = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("ocr").alias("kind"),
                F.col("text").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
            F.struct(
                F.lit("text").alias("kind"),
                F.concat(F.lit("  "), F.col("text"), F.lit(" \t")).alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(10).alias("offset"),
            ),
        ).alias("spans"),
    )
    return extract_pipeline(docs)


@query(
    "q40_error_taxonomy",
    """
    WITH routed AS (
      SELECT CASE doc_id % 5
               WHEN 0 THEN 'text' WHEN 1 THEN 'html' WHEN 2 THEN 'pdf'
               WHEN 3 THEN 'n8n' ELSE 'ocr'
             END AS kind,
             CASE
               WHEN doc_id % 5 = 1 AND length(text) > 0 THEN 'PARSE_HTML'
               WHEN doc_id % 5 = 2 AND length(text) > 0 THEN 'PARSE_PDF'
               WHEN doc_id % 5 = 3 THEN 'UNKNOWN_KIND'
             END AS error_code
      FROM documents
    )
    SELECT kind, error_code, COUNT(*) AS n_spans
    FROM routed GROUP BY kind, error_code
    """,
)
def q40(spark, sf_dir):
    """A19 typed error taxonomy, oracle-checked: spans are routed to
    kinds by doc_id (including an unknown 'n8n' kind and raw text fed to
    the html/pdf table parsers, which rejects it as malformed), run
    through the real mapInPandas extraction stage, and the resulting
    (kind, error_code) distribution is compared against the closed
    ERROR_CODES domain computed relationally. Mirrors the reference's
    exception-ladder tests (tests/test_cloud_client.py:177-208) as a
    data-level contract: failures are row values with a typed code,
    never task failures."""
    from .operators.extract import extract_pipeline

    d = load(spark, sf_dir, "documents")
    kind = (
        F.when(F.col("doc_id") % 5 == 0, "text")
        .when(F.col("doc_id") % 5 == 1, "html")
        .when(F.col("doc_id") % 5 == 2, "pdf")
        .when(F.col("doc_id") % 5 == 3, "n8n")
        .otherwise("ocr")
    )
    docs = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                kind.alias("kind"),
                F.col("text").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    return (
        extract_pipeline(docs)
        .groupBy("kind", "error_code")
        .agg(F.count("*").alias("n_spans"))
    )


# =====================================================================
# Round-2 additions: KMV distinct sketch + cross-source resemblance,
# sketch-then-exact heavy hitters, cohort retention, ANN recall audit
# =====================================================================

# KMV (k-minimum-values) sketch size. The k smallest 48-bit hashes of a
# set are a fixed-size summary supporting distinct-count estimation
# (est = (k-1) * 2^48 / kth_min) AND set-resemblance estimation via
# sketch union — the operation HLL (q59) cannot do. Production sizing:
# relative error ~ 1/sqrt(k), so k=1024 gives ~3%; 32 keeps the
# fixture sketch comfortably smaller than the smallest source.
KMV_K = 32

_KMV_SKETCH_CTE = f"""
WITH f AS (
  SELECT DISTINCT source,
         ('0x' || substr(md5('kmv:' || text), 1, 12))::BIGINT AS hv
  FROM documents
), r AS (
  SELECT source, hv,
         row_number() OVER (PARTITION BY source ORDER BY hv) AS rnk
  FROM f
), sk AS (
  SELECT source, CAST(rnk AS BIGINT) AS rnk, hv FROM r WHERE rnk <= {KMV_K}
)
"""


def _kmv_sketch_df(spark, sf_dir):
    """Per-source KMV sketch: the KMV_K smallest distinct 48-bit
    md5-derived content hashes. The groupBy(source, hv) distinct is
    map-side combining (16-byte keys); the per-source rank window then
    runs over DISTINCT fingerprints only. At 10^12 rows the production
    variant inserts a uniformity pre-filter before the window — a
    cheap cardinality lower bound (q59's HLL) sizes a per-source
    threshold t ≈ 8·KMV_K·2^48/n̂ and `hv < t` discards all but ~8k
    candidates per source, making the sort input O(k); the result is
    identical because the k minima always survive a conservative
    threshold (retry with 2t on the <k-survivors guard)."""
    d = load(spark, sf_dir, "documents")
    f = d.select(
        "source",
        F.expr(
            "cast(conv(substring(md5(concat('kmv:', text)), 1, 12),"
            " 16, 10) as bigint)"
        ).alias("hv"),
    ).distinct()
    w = Window.partitionBy("source").orderBy("hv")
    return (
        f.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= KMV_K)
    )


@query(
    "q82_kmv_sketch",
    _KMV_SKETCH_CTE + "SELECT source, rnk, hv FROM sk",
)
def q82(spark, sf_dir):
    """KMV distinct sketch build — the order-statistics sketch family
    next to q59's HLL: per source, the KMV_K smallest distinct content
    hashes. Unlike HLL registers, a KMV sketch supports UNION (merge =
    k smallest of concatenation) and INTERSECTION estimates, which is
    what q83 exploits for the cross-source resemblance matrix. The
    query returns the sketch rows themselves (exact int64 on both
    engines — md5-derived, reproducible), so the driver's hash gate
    verifies the distributed sketch value-for-value; the float
    cardinality estimate is a consumer-side formula checked in
    tests/test_corpus_ops.py.

    Spark shape: one map pass computes (source, hv), a map-side
    combining distinct collapses duplicates per task, and the only
    per-source sort is the rank window over distinct fingerprints
    (production pre-filter note on _kmv_sketch_df). Output is
    sources x KMV_K rows — constant in corpus size."""
    return _kmv_sketch_df(spark, sf_dir).select("source", "rnk", "hv")


@query(
    "q83_kmv_resemblance",
    _KMV_SKETCH_CTE
    + f"""
    , srcs AS (SELECT DISTINCT source FROM sk),
    pr AS (
      SELECT a.source AS source_a, b.source AS source_b
      FROM srcs a JOIN srcs b ON a.source < b.source
    ),
    uni AS (
      SELECT pr.source_a, pr.source_b, sk.hv,
             MAX(CASE WHEN sk.source = pr.source_a THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN sk.source = pr.source_b THEN 1 ELSE 0 END) AS in_b
      FROM pr JOIN sk ON sk.source IN (pr.source_a, pr.source_b)
      GROUP BY 1, 2, 3
    ),
    rk AS (
      SELECT source_a, source_b, in_a, in_b,
             row_number() OVER (PARTITION BY source_a, source_b
                                ORDER BY hv) AS rnk
      FROM uni
    )
    SELECT source_a, source_b,
           CAST(COUNT(*) AS BIGINT) AS k_eff,
           CAST(SUM(CASE WHEN in_a + in_b = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           CAST(SUM(CASE WHEN in_a + in_b = 2 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS jaccard_est_ppm
    FROM rk WHERE rnk <= {KMV_K}
    GROUP BY 1, 2
    """,
)
def q83(spark, sf_dir):
    """Cross-source resemblance matrix from KMV sketches — "how much
    does source A's content overlap source B's?" answered WITHOUT
    comparing documents: for each source pair, merge the two sketches
    (k smallest of the union) and count merged values present in both;
    shared/k_eff estimates the content Jaccard. This is the corpus-
    composition diagnostic (shared crawls, mirrored sites) that exact
    pairwise comparison cannot afford at 10^12 rows — here it runs on
    sources x KMV_K rows.

    Spark shape: the ONLY corpus-touching stage is the q82 sketch
    build; the pair expansion, union-merge window, and membership
    counts all operate on the sketch table (sources x k rows), with
    the pair dimension broadcast. Exact int64 end to end: hashes are
    md5-derived, the Jaccard estimate is exact integer ppm."""
    sk = _kmv_sketch_df(spark, sf_dir).select("source", "hv")
    srcs = sk.select("source").distinct()
    pr = (
        srcs.select(F.col("source").alias("source_a"))
        .join(
            srcs.select(F.col("source").alias("source_b")),
            F.col("source_a") < F.col("source_b"),
        )
    )
    uni = (
        pr.join(
            F.broadcast(sk),
            (F.col("source") == F.col("source_a"))
            | (F.col("source") == F.col("source_b")),
        )
        .groupBy("source_a", "source_b", "hv")
        .agg(
            F.max(
                F.when(F.col("source") == F.col("source_a"), 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("source") == F.col("source_b"), 1).otherwise(0)
            ).alias("in_b"),
        )
    )
    w = Window.partitionBy("source_a", "source_b").orderBy("hv")
    rk = uni.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= KMV_K
    )
    both = F.when(F.col("in_a") + F.col("in_b") == 2, 1).otherwise(0)
    return (
        rk.groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("k_eff"),
            F.sum(both).alias("n_shared"),
        )
        .select(
            "source_a",
            "source_b",
            "k_eff",
            "n_shared",
            F.expr("n_shared * 1000000 div k_eff").alias("jaccard_est_ppm"),
        )
    )


# Heavy-hitter selection threshold: a word is a candidate when its
# count-min estimate carries at least 1/HH_FRACTION_DEN of the total
# token mass. Relative (not absolute) so the same rule holds at every
# scale factor; the denominator is policy — production pipelines pick
# it from the downstream budget (e.g. "words worth a stop-list slot").
HH_FRACTION_DEN = 32


@query(
    "q84_heavy_hitters",
    f"""
    WITH cells AS (SELECT * FROM ({{q60}})),
    tot_mass AS (SELECT SUM(total) AS mass FROM cells WHERE r = 0),
    tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ), cnts AS (
      SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY 1
    ), hsh AS (
      SELECT tok, cnt,
             ('0x' || substr(md5('cm:' || tok), 1, 12))::BIGINT AS h
      FROM cnts
    ), est AS (
      SELECT hsh.tok, hsh.cnt, MIN(c.total) AS est
      FROM hsh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) r
      JOIN cells c
        ON c.r = r.r
       AND c.c = ({_CM_H1} + r.r * {_CM_H2_SQL}) % {CM_W}
      GROUP BY 1, 2
    )
    SELECT tok, CAST(cnt AS BIGINT) AS exact_count,
           CAST(est AS BIGINT) AS cm_estimate,
           CAST(est - cnt AS BIGINT) AS overestimate
    FROM est
    WHERE est * {HH_FRACTION_DEN} >= (SELECT mass FROM tot_mass)
    """.replace("{q60}", ORACLES["q60_countmin_sketch"]),
)
def q84(spark, sf_dir):
    """Sketch-then-exact heavy hitters — the two-phase pattern that
    makes top-token reports affordable at 10^12 rows: phase 1 builds
    the count-min sketch (q60 — the shuffle carries 4x256 counters,
    never tokens); phase 2 re-scans the corpus probing the BROADCAST
    sketch in-row, keeps only words whose estimate carries >=
    1/{HH_FRACTION_DEN} of total token mass, and runs the exact count
    aggregation over the surviving occurrences only. The exact-count
    shuffle is bounded by true-heavy words (count-min errs one-sided,
    so no heavy word is missed — the guarantee tests pin); the
    overestimate column is the live sketch-accuracy diagnostic.

    Spark shape: the sketch is collected once ({CM_D}x{CM_W} rows — a
    dimension, q33's centroid-literal pattern) and inlined as a flat
    array literal, so phase 2's probe is pure in-row arithmetic
    (Kirsch-Mitzenmacher double hashing, `least` over {CM_D} array
    reads) inside WholeStageCodegen — zero joins, zero Python. Exact
    int64 everywhere."""
    cells = QUERIES["q60_countmin_sketch"](spark, sf_dir).collect()
    flat = [0] * (CM_D * CM_W)
    for row in cells:
        flat[int(row.r) * CM_W + int(row.c)] = int(row.total)
    mass = sum(flat[: CM_W])
    arr = "array(" + ",".join(f"{v}L" for v in flat) + ")"
    d = load(spark, sf_dir, "documents").select(
        F.split(F.trim("text"), r"\s+").alias("toks")
    )
    # per-doc distinct (tok, cnt) rows: q51's in-row counting pattern
    wc = d.select(
        F.explode(
            F.expr(
                "transform(array_distinct(toks), w -> struct("
                " w AS tok,"
                " cast(size(filter(toks, x -> x = w)) as bigint) AS cnt,"
                " cast(conv(substring(md5(concat('cm:', w)), 1, 12),"
                "  16, 10) as bigint) AS h))"
            )
        ).alias("p")
    ).select("p.tok", "p.cnt", "p.h")
    est = F.expr(
        "array_min(transform(sequence(0, %d), r -> element_at(%s,"
        " cast(r * %d + (%s + r * %s) %% %d as int) + 1)))"
        % (
            CM_D - 1,
            arr,
            CM_W,
            _CM_H1.replace("h ", "h "),
            _CM_H2_SPARK,
            CM_W,
        )
    )
    return (
        wc.withColumn("est", est)
        .filter(F.col("est") * HH_FRACTION_DEN >= mass)
        .groupBy("tok")
        .agg(
            F.sum("cnt").alias("exact_count"),
            F.max("est").alias("cm_estimate"),
        )
        .select(
            "tok",
            "exact_count",
            "cm_estimate",
            (F.col("cm_estimate") - F.col("exact_count")).alias("overestimate"),
        )
    )


@query(
    "q85_cohort_retention",
    """
    WITH u AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ), fst AS (
      SELECT user_id, MIN(d) AS cohort FROM u GROUP BY 1
    ), m AS (
      SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_day,
             CAST(date_diff('day', f.cohort, u.d) AS BIGINT) AS day_offset,
             COUNT(*) AS n_users
      FROM u JOIN fst f USING (user_id)
      GROUP BY 1, 2
    )
    SELECT cohort_day, day_offset, CAST(n_users AS BIGINT) AS n_users,
           CAST(n_users * 1000000
                // MAX(CASE WHEN day_offset = 0 THEN n_users END)
                   OVER (PARTITION BY cohort_day) AS BIGINT) AS retention_ppm
    FROM m
    """,
)
def q85(spark, sf_dir):
    """Cohort retention matrix — the user-lifecycle analysis every
    event pipeline ships: users are grouped into day cohorts by first
    activity, and each (cohort, day-offset) cell counts how many of
    them were active that many days later, with retention as the exact
    integer-ppm share of the cohort's day-0 size. Complements the
    event family (q08 rates, q09 sessions, q67 funnel, q79 anomaly)
    with the two-level self-referential aggregation shape none of them
    has.

    Spark shape: the only corpus-scale stages are the distinct
    (user, day) projection (map-side combining — state per task is
    active user-days, not events) and the first-touch MIN aggregate;
    both shuffle on user_id, so AQE coalesces them onto one exchange
    footprint, and the join back is user-co-partitioned. The retention
    window runs over the cohort x offset matrix — calendar-bounded,
    independent of event count. ppm is exact integer division on both
    engines; day arithmetic is DATE-typed (no tz, no DST ambiguity)."""
    ev = load(spark, sf_dir, "events")
    u = ev.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).distinct()
    fst = u.groupBy("user_id").agg(F.min("d").alias("cohort"))
    m = (
        u.join(fst, "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("d", "cohort").cast("bigint").alias("day_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )
    return m.select(
        "cohort_day",
        "day_offset",
        "n_users",
        F.expr(
            "n_users * 1000000 div max(case when day_offset = 0 then n_users"
            " end) over (partition by cohort_day)"
        ).alias("retention_ppm"),
    )


@query(
    "q86_ann_recall_audit",
    _EMB_DIMS_CTE
    + f"""
    , bdots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(CAST(q.v * c.v AS DECIMAL(28,12))) AS DOUBLE) AS dot
      FROM dims q JOIN dims c
        ON q.pos = c.pos
       AND q.vec_id BETWEEN {IVF_N_CELLS} AND {IVF_N_CELLS + 4}
       AND c.vec_id >= {IVF_N_CELLS} AND c.vec_id <> q.vec_id
      GROUP BY 1, 2
    ), bscored AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY (floor(dot / (nq.nrm * nc.nrm) * 1000000.0)
                         / 1000000.0) DESC,
                        neighbor_id ASC) AS rn
      FROM bdots JOIN norms nq ON nq.vec_id = bdots.query_id
                 JOIN norms nc ON nc.vec_id = bdots.neighbor_id
    ), truth AS (
      SELECT query_id, neighbor_id FROM bscored WHERE rn <= {IVF_TOP_K}
    ), ann AS (
      SELECT query_id, neighbor_id FROM ({ORACLES['q44_ivf_topk_search']})
    )
    SELECT t.query_id,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_matched,
           CAST(COUNT(a.neighbor_id) * 1000000 // {IVF_TOP_K} AS BIGINT)
             AS recall_ppm
    FROM truth t
    LEFT JOIN ann a
      ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
    GROUP BY 1
    """,
)
def q86(spark, sf_dir):
    """ANN recall audit — the quality gate of the similarity-search
    family: q44's IVF top-k, measured against the exact brute-force
    top-k over the SAME query/corpus domain, reported as per-query
    recall in exact integer ppm. This is the number that decides the
    IVF_NPROBE/IVF_N_CELLS trade (probe more cells until recall meets
    target) — without it an ANN index is an unverified guess.

    Spark shape: ground truth reuses q44's  relation (which
    already carries each corpus vector's embedding and exact-decimal
    norm) with the 5 query vectors broadcast and every cosine computed
    in-row — one map pass over the corpus plus the per-query top-k
    window; the ANN side is q44's own plan; both result sets are
    5 x IVF_TOP_K rows, so the audit join and aggregation are
    dimension-sized. Ties are broken identically (floor-ppm cosine,
    then neighbor_id) in both paths and both engines."""
    assign, probes = _ivf_assign_probes(spark, sf_dir)
    ann = _ivf_search(assign, probes).select(
        "query_id", F.col("neighbor_id").alias("ann_neighbor")
    )
    q = probes.select("query_id", "q_emb", "q_nrm").distinct()
    cos = (
        F.floor(
            _dot_dec(F.col("q_emb"), F.col("c_emb"))
            / (F.col("q_nrm") * F.col("c_nrm"))
            * 1000000.0
        )
        / 1000000.0
    )
    scored = assign.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select("query_id", "neighbor_id", cos.alias("cos_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    truth = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= IVF_TOP_K)
        .select("query_id", "neighbor_id")
    )
    hits = truth.join(
        ann,
        (ann["query_id"] == truth["query_id"])
        & (ann["ann_neighbor"] == truth["neighbor_id"]),
        "left",
    ).select(truth["query_id"], "ann_neighbor")
    return hits.groupBy("query_id").agg(
        F.count("ann_neighbor").alias("n_matched"),
        F.expr(
            f"cast(count(ann_neighbor) * 1000000 div {IVF_TOP_K} as bigint)"
        ).alias("recall_ppm"),
    )


# Systematic-sampling step: one pick per SAMPLE_STEP tokens of lane
# mass. Production sizing: STEP = corpus_tokens / target_sample_size;
# docs longer than STEP receive proportional multiplicity (epoch
# repeats), so expected sampled token mass is corpus_tokens / STEP *
# avg_doc regardless of the length distribution.
SAMPLE_STEP = 400
SAMPLE_LANES = PACK_LANES  # the q69/q74 stateless-writer lane rule


@query(
    "q87_systematic_sample",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS nt,
             ('0x' || substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 4))
               ::BIGINT % {SAMPLE_LANES} AS lane
      FROM documents
    ), c AS (
      SELECT doc_id, source, lane, nt,
             COALESCE(SUM(nt) OVER (PARTITION BY lane ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM t
    )
    SELECT doc_id, source, lane, nt,
           CAST((cum_before + nt) // {SAMPLE_STEP}
                - cum_before // {SAMPLE_STEP} AS BIGINT) AS n_picks
    FROM c
    WHERE (cum_before + nt) // {SAMPLE_STEP} - cum_before // {SAMPLE_STEP} > 0
    """,
)
def q87(spark, sf_dir):
    """Token-weighted systematic sampling — pick documents proportional
    to their token mass with NO floating-point randomness: within each
    hash lane, docs are laid on the cumulative token axis and every
    {SAMPLE_STEP}-token grid line selects the document covering it
    (n_picks = grid lines inside the doc's span, so a doc longer than
    the step gets proportional multiplicity — the exact epoch-repeat
    semantics of size-proportional corpus subsetting). Deterministic,
    coordination-free, re-run-stable — the weighted companion to q45's
    uniform hash sampling and q72's quality-weighted acceptance.

    Spark shape: q74's single-window discipline — one map pass
    computes (nt, lane), ONE shuffle on the lane key feeds the
    in-partition prefix sum, and the grid-line arithmetic is exact
    int64. Lanes keep every sorted run task-sized at any corpus scale
    (lane count is the parallelism dial; placement is the q69 salted
    stateless-writer rule)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr("cast(size(split(trim(text), '\\\\s+')) as bigint)").alias("nt"),
        F.expr(
            f"cast(conv(substring(md5(concat('samp:', cast(doc_id as string))),"
            f" 1, 4), 16, 10) as bigint) % {SAMPLE_LANES}"
        ).alias("lane"),
    )
    w = (
        Window.partitionBy("lane")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = d.withColumn("cum_before", F.coalesce(F.sum("nt").over(w), F.lit(0)))
    picks = F.expr(
        f"(cum_before + nt) div {SAMPLE_STEP} - cum_before div {SAMPLE_STEP}"
    ).cast("bigint")
    return (
        c.withColumn("n_picks", picks)
        .filter(F.col("n_picks") > 0)
        .select("doc_id", "source", "lane", "nt", "n_picks")
    )


@query(
    "q88_length_deciles",
    """
    WITH h AS (
      SELECT lang, n_chars, COUNT(*) AS cnt FROM documents GROUP BY 1, 2
    ), c AS (
      SELECT lang, n_chars,
             SUM(cnt) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
             SUM(cnt) OVER (PARTITION BY lang) AS n
      FROM h
    ), m AS (
      SELECT lang, n_chars,
             CAST((10 * cum + n - 1) // n AS BIGINT) AS decile
      FROM c
    )
    SELECT d.doc_id, d.lang, d.n_chars, m.decile
    FROM documents d JOIN m ON m.lang = d.lang AND m.n_chars = d.n_chars
    """,
)
def q88(spark, sf_dir):
    """Quantile bucketing (curriculum binning): every document tagged
    with its per-language length decile — the binning step behind
    curriculum schedules, stratified eval slices, and length-balanced
    batch construction. Value-coherent by construction: ties get the
    SAME bucket (decile of a value v = ceil(10 · F(v)), F the empirical
    CDF), unlike NTILE whose tie-splitting depends on row order.

    Spark shape: the q57 histogram discipline — the corpus collapses
    map-side into the (lang, n_chars) histogram ONCE; the CDF windows
    run over the histogram (distinct values per language, not rows);
    and the value→decile map joins back BROADCAST, so the per-row
    assignment is map-only. A direct NTILE window would instead sort
    every language's full partition in one task — the formulation this
    query exists to avoid. Exact int64 arithmetic: ceil as
    (10·cum + n − 1) div n."""
    d = load(spark, sf_dir, "documents")
    m = _length_histogram(d).select(
        "lang",
        "n_chars",
        F.expr("(10 * cum + n - 1) div n").cast("bigint").alias("decile"),
    )
    return d.join(F.broadcast(m), ["lang", "n_chars"]).select(
        "doc_id", "lang", "n_chars", "decile"
    )


@query(
    "q89_zorder_key",
    None,  # oracle attached below (needs the layout module's SQL twin)
)
def q89(spark, sf_dir):
    """Z-order (Morton) clustering key audit — the multi-dimensional
    layout key `operators/layout.py` writes by: every document's
    (length-band, source-bucket) coordinates interleaved bit-by-bit
    into one int64. Clustering by this key makes parquet footer
    min/max stats tight on BOTH dimensions, so scans filtered on
    either prune to ~sqrt(files) — the technique behind Iceberg
    zorder / Delta OPTIMIZE ZORDER, here in plain exact-int DataFrame
    arithmetic (oracle-checked bit for bit).

    Spark shape: strictly map-only — one WholeStageCodegen pass; the
    layout write itself adds one range shuffle (`repartitionByRange`
    on the key), the price of any clustered rewrite."""
    from .operators.layout import _bucket_expr, morton_key

    d = load(spark, sf_dir, "documents")
    return (
        d.withColumn(
            "_za", F.expr("least(n_chars div 16, 255)").cast("bigint")
        )
        .withColumn("_zb", F.expr(_bucket_expr("source", 256)))
        .select(
            "doc_id",
            F.col("_za").alias("len_band"),
            F.col("_zb").alias("source_bucket"),
            morton_key("_za", "_zb").alias("zkey"),
        )
    )


def _q89_oracle() -> str:
    from .operators.layout import morton_key_sql

    return f"""
    WITH t AS (
      SELECT doc_id,
             least(n_chars // 16, 255) AS len_band,
             ('0x' || substr(md5('z:' || CAST(source AS VARCHAR)), 1, 8))
               ::BIGINT % 256 AS source_bucket
      FROM documents
    )
    SELECT doc_id, CAST(len_band AS BIGINT) AS len_band,
           CAST(source_bucket AS BIGINT) AS source_bucket,
           {morton_key_sql('len_band', 'source_bucket')} AS zkey
    FROM t
    """


ORACLES["q89_zorder_key"] = _q89_oracle()


@query(
    "q90_bloom_pruned_join",
    """
    SELECT o_orderkey, o_custkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents
    FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_acctbal < 0
    )
    """,
)
def q90(spark, sf_dir):
    """Bloom-pruned semi join — restrict the orders fact table to a
    selected customer segment (negative balance) with the big side
    shrunk IN-ROW at the scan by an explicit bloom sketch of the
    selected keys, before any exchange or join executes
    (`operators/bloom_join.py`). The oracle is the PLAIN semi join:
    the bloom has false positives (removed by the exact join) but
    zero false negatives, so the result must be bit-identical — that
    equivalence is the whole point, and the driver's hash gate checks
    it on every run.

    Spark shape: the sketch build is one bit_or aggregate over the
    dimension selection (map-side partials collapse to ≤65 words);
    the collected words (KBs) inline as an array literal so the fact-
    side probe is WholeStageCodegen in-row arithmetic; the final exact
    semi join sees only true matches plus a bounded-fpr trickle. At
    10^12 fact rows this deletes the scan→shuffle of every non-
    matching row — the explicit, oracle-checkable form of Spark's
    runtime bloom-filter join."""
    from .operators.bloom_join import bloom_semi_join

    orders = load(spark, sf_dir, "orders")
    flagged = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0)
    return bloom_semi_join(
        orders, flagged.select("c_custkey"), "o_custkey", "c_custkey"
    ).select(
        "o_orderkey",
        "o_custkey",
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias(
            "total_cents"
        ),
    )


# =====================================================================
# German invoice field extraction (reference extract_invoice parity)
# =====================================================================

# Deterministic invoice fixture, constructed identically by both
# engines from doc_id alone (the q54 pattern): a German-locale invoice
# line with thousands-dot / decimal-comma amounts and dd.mm.yyyy dates.
# Amount cents are exact int64 end to end.
_INV_CENTS = "(doc_id * 7919 + 4242) % 10000000"

# German date dd.mm.2024 (both dialects share lpad/||; only the cast
# target name differs).
def _inv_date(s: str) -> str:
    return (
        f"lpad(cast(1 + doc_id % 28 as {s}), 2, '0') || '.' || "
        f"lpad(cast(1 + doc_id % 12 as {s}), 2, '0') || '.2024'"
    )


# German-grouped amount "1.234.567,89": integer part through the
# engine's en-US thousands formatter with ',' translated to '.', plus
# a comma and the zero-padded cents fraction. Exact — no float ever
# appears.
_INV_AMT_SPARK = (
    f"translate(format_number(({_INV_CENTS}) div 100, 0), ',', '.')"
    f" || ',' || lpad(cast(({_INV_CENTS}) % 100 as string), 2, '0')"
)
_INV_AMT_DUCK = (
    f"translate(format('{{:,}}', ({_INV_CENTS}) // 100), ',', '.')"
    f" || ',' || lpad(cast(({_INV_CENTS}) % 100 as varchar), 2, '0')"
)


def _inv_text(s: str, amt: str) -> str:
    return (
        f"'Rechnung Nr. RE-2024-' || cast(doc_id as {s})"
        f" || ' vom ' || {_inv_date(s)}"
        f" || ' Kundennr. ' || cast(doc_id % 997 as {s})"
        f" || ' Gesamtbetrag: ' || {amt} || ' EUR'"
    )


# Field patterns in the RE2 ∩ Java ∩ Python dialect (functions/pii.py
# conventions: no lookarounds, no \b). The amount pattern anchors on
# the ' EUR' suffix so the Kundennr distractor can never match. ONE
# spelling, shared with the client facade's synchronous analyze_v2
# (functions/templates.py).
_INV_NO_PAT = templates.INV_NO_PAT
_INV_DATE_PAT = templates.INV_DATE_PAT
_INV_AMT_PAT = templates.INV_AMT_PAT


@query(
    "q91_invoice_fields",
    f"""
    WITH inv AS (
      SELECT doc_id, {_inv_text('varchar', _INV_AMT_DUCK)} AS txt
      FROM documents
    )
    SELECT doc_id,
           regexp_extract(txt, '{_INV_NO_PAT}', 0) AS invoice_no,
           regexp_extract(txt, '{_INV_DATE_PAT}', 3) || '-' ||
           regexp_extract(txt, '{_INV_DATE_PAT}', 2) || '-' ||
           regexp_extract(txt, '{_INV_DATE_PAT}', 1) AS invoice_date,
           CAST(replace(regexp_extract(txt, '{_INV_AMT_PAT}', 1), '.', '')
                AS BIGINT) * 100
             + CAST(regexp_extract(txt, '{_INV_AMT_PAT}', 2) AS BIGINT)
             AS amount_cents
    FROM inv
    """,
)
def q91(spark, sf_dir):
    """German invoice field extraction — the reference's
    `extract_invoice` (extractor.py:225-243, fields per InvoiceData
    extractor.py:19-29) re-expressed as a relational operator: pull
    invoice number, date, and total out of German-locale invoice text
    (thousands-dot / decimal-comma amounts, dd.mm.yyyy dates) and
    NORMALIZE them — date to ISO, amount to exact integer cents (the
    reference parses totals into floats, extractor.py:28; cents keep
    the driver hash engine-stable). The fixture text is constructed
    deterministically from doc_id by both engines (q54 pattern), so
    the oracle independently derives the same documents and the
    extraction regexes are exercised for real on both sides.

    Spark shape: strictly map-only — fixture construction, the three
    regexp_extracts, and the locale normalization are one
    WholeStageCodegen pass, zero shuffles, zero Python. At 10^12 docs
    this is a single scan; the regexes are RE2 ∩ Java ∩ Python per
    the functions/pii.py dialect rules."""
    d = load(spark, sf_dir, "documents")
    txt = F.expr(_inv_text("string", _INV_AMT_SPARK))
    inv = d.select("doc_id", txt.alias("txt"))
    return inv.select("doc_id", *templates.invoice_fields("txt"))


# =====================================================================
# Character-bigram LM quality score (KenLM/CCNet-style filter)
# =====================================================================

# Tiny character-bigram "language model": integer costs (scaled
# negative log-probs) for bigrams common in the corpus vocabulary;
# everything else pays _LM_DEFAULT. The operator is the scoring
# dataflow — production swaps in a real trained table (KenLM-style)
# without touching the plan, exactly like the PII pattern inventory.
_LM_BIGRAMS: tuple[tuple[str, int], ...] = (
    ("e ", 2), (" s", 3), ("a ", 3), (" a", 3), ("t ", 3),
    ("ta", 3), ("al", 4), ("le", 3), ("va", 4), ("lu", 5),
    ("ue", 5), ("ro", 4), ("ow", 5), ("sc", 4), ("ca", 4),
    ("an", 3), ("fa", 5), ("as", 4), ("st", 3), ("he", 3),
    ("th", 3), ("ke", 5), ("ey", 6), ("ha", 4), ("ar", 4),
    ("pa", 5), ("rt", 4), ("ba", 5), ("at", 4), ("ch", 4),
)
_LM_DEFAULT = 12
# keep threshold: mean bigram cost (e3) at or under this passes
_LM_KEEP_E3 = 9000


def _lm_case(sub: str) -> str:
    whens = " ".join(f"WHEN '{bg}' THEN {c}" for bg, c in _LM_BIGRAMS)
    return f"CASE {sub} {whens} ELSE {_LM_DEFAULT} END"


@query(
    "q92_lm_quality",
    f"""
    WITH scored AS (
      SELECT doc_id,
             list_sum(list_transform(range(1, length(text)),
               i -> {_lm_case('substring(text, CAST(i AS INT), 2)')}))
               AS total_cost,
             length(text) - 1 AS n_bigrams
      FROM documents
      WHERE length(text) >= 2
    )
    SELECT doc_id,
           CAST((total_cost * 1000) // n_bigrams AS BIGINT) AS lm_cost_e3,
           CAST((total_cost * 1000) // n_bigrams <= {_LM_KEEP_E3}
                AS BOOLEAN) AS keep
    FROM scored
    """,
)
def q92(spark, sf_dir):
    """Perplexity-proxy quality filter — the CCNet/KenLM-style LM
    scoring stage of a training-data pipeline (the quality-filter
    family next to q47's repetition stats and q56's bag-of-words
    classifier): every document is charged the summed cost of its
    character bigrams under a literal cost table (scaled integer
    log-probs), and mean-cost-per-bigram decides keep/drop. Gibberish
    and wrong-language text pay the default cost almost everywhere
    and fall above the threshold; in-domain text rides the cheap
    common bigrams. Generalizes the reference's per-document quality
    signal (confidence, ollama_backend.py:145) into a trainable,
    data-derived score.

    Spark shape: the whole score is ONE in-row higher-order-function
    fold (`aggregate` over `sequence`) — zero shuffles, zero Python,
    exact int64 arithmetic (costs ≤ 12·len·1000 ≪ 2^63). At 10^12
    docs this is a single WholeStageCodegen map pass; the cost table
    inlines as a codegen'd CASE, the same way q55 inlines its
    vocabulary and q84 its count-min counters."""
    d = load(spark, sf_dir, "documents")
    case = _lm_case("substring(text, i, 2)")
    scored = d.filter(F.length("text") >= 2).select(
        "doc_id",
        F.expr(
            f"aggregate(sequence(1, length(text) - 1), 0L,"
            f" (acc, i) -> acc + {case})"
        ).alias("total_cost"),
        (F.length("text") - 1).alias("n_bigrams"),
    )
    cost_e3 = F.expr("(total_cost * 1000) div n_bigrams")
    return scored.select(
        "doc_id",
        cost_e3.cast("bigint").alias("lm_cost_e3"),
        (cost_e3 <= _LM_KEEP_E3).alias("keep"),
    )


# =====================================================================
# URL canonicalization (web-corpus provenance hygiene)
# =====================================================================

# Deterministic per-doc URL fixture (both engines, q54/q91 pattern):
# scheme + uppercase WWW host + path + tracking params interleaved
# with a real one — everything canonicalization must handle.
def _url_expr(s: str) -> str:
    return (
        f"'https://WWW.' || source || '.de/doc/' || cast(doc_id as {s})"
        f" || '?utm_source=feed&id=' || cast(doc_id as {s})"
        f" || '&utm_campaign=c' || cast(doc_id % 5 as {s})"
    )


_URL_HOST_PAT = "^[a-z]+://([^/?]+)"
_URL_UTM_PAT = "utm_[a-z]+=[^&]*&?"
_URL_TAIL_PAT = "[?&]+$"


@query(
    "q93_url_canonical",
    f"""
    WITH u AS (
      SELECT doc_id, {_url_expr('varchar')} AS url FROM documents
    )
    SELECT doc_id,
           regexp_replace(lower(regexp_extract(url, '{_URL_HOST_PAT}', 1)),
                          '^www\\.', '') AS host,
           regexp_replace(regexp_replace(url, '{_URL_UTM_PAT}', '', 'g'),
                          '{_URL_TAIL_PAT}', '') AS canonical_url
    FROM u
    """,
)
def q93(spark, sf_dir):
    """URL canonicalization — the provenance-hygiene pass every
    web-scale corpus runs before host-level curation (CCNet/RefinedWeb
    style): lowercase the host, strip the ``www.`` prefix, and delete
    tracking parameters so host-level quality aggregates, robots/
    blocklist joins (q90's bloom-semi-join pattern), and URL-exact
    dedup all key on the same canonical form. Generalizes the
    reference's filename/extension normalization (cloud_client.py:
    291-297) to the web-provenance domain. The URL fixture is
    constructed deterministically from doc_id by both engines, so the
    oracle independently derives the inputs and the canonicalization
    regexes execute for real on both sides.

    Spark shape: map-only — fixture construction, host extraction,
    and both rewrite regexes fuse into one WholeStageCodegen pass,
    zero shuffles, zero Python (RE2 ∩ Java ∩ Python patterns per the
    functions/pii.py dialect rules). The host column is the natural
    key for a follow-up dimension-sized groupBy; the canonical URL is
    the dedup fingerprint input."""
    d = load(spark, sf_dir, "documents")
    u = d.select("doc_id", F.expr(_url_expr("string")).alias("url"))
    host = F.regexp_replace(
        F.lower(F.regexp_extract("url", _URL_HOST_PAT, 1)), r"^www\.", ""
    )
    canon = F.regexp_replace(
        F.regexp_replace("url", _URL_UTM_PAT, ""), _URL_TAIL_PAT, ""
    )
    return u.select(
        "doc_id", host.alias("host"), canon.alias("canonical_url")
    )


# =====================================================================
# German sentence segmentation (abbreviation-protected)
# =====================================================================

# Abbreviations whose trailing dot must NOT end a sentence. Replaced
# by dotless placeholders before counting terminators — the classic
# lookbehind-free protection pass (the RE2 ∩ Java ∩ Python dialect has
# no lookbehind, functions/pii.py rules).
_SENT_ABBREV: tuple[tuple[str, str], ...] = (
    (r"z\. B\.", "zB"),
    (r"Dr\.", "Dr"),
    (r"Nr\.", "Nr"),
    (r"usw\.", "usw"),
    (r"bzw\.", "bzw"),
    (r"ca\.", "ca"),
)


def _sent_text() -> str:
    # dialect-shared: repeat/cast-as-int/|| parse identically in
    # Spark SQL and DuckDB
    return (
        "'Dr. Weber prüft z. B. die Rechnung. ' || "
        "repeat('Der Betrag Nr. 7 ist ca. hoch. ', cast(1 + doc_id % 4 as int))"
        " || 'Fertig bzw. erledigt.'"
    )


def _sent_protect_sql(expr: str) -> str:
    out = expr
    for pat, repl in _SENT_ABBREV:
        lit = pat.replace("\\", "\\\\")
        out = f"regexp_replace({out}, E'{lit}', '{repl}', 'g')"
    return out


@query(
    "q94_sentence_segment",
    f"""
    WITH t AS (
      SELECT doc_id, {_sent_text()} AS txt FROM documents
    ), p AS (
      SELECT doc_id, {_sent_protect_sql('txt')} AS clean FROM t
    )
    SELECT doc_id,
           CAST(length(clean)
                - length(regexp_replace(clean, '[.!?]', '', 'g'))
                AS BIGINT) AS n_sentences,
           CAST((length(clean) * 1000)
                // (length(clean)
                    - length(regexp_replace(clean, '[.!?]', '', 'g')))
                AS BIGINT) AS mean_sent_len_e3
    FROM p
    """,
)
def q94(spark, sf_dir):
    """German sentence segmentation with abbreviation protection — the
    boundary detector sentence-level ops (sentence dedup, q74-style
    packing at sentence granularity, per-sentence LM scoring) build
    on. German abbreviations (z. B., Dr., Nr., usw., bzw., ca.) end in
    the same dot that terminates a sentence; the RE2∩Java dialect has
    no lookbehind, so protection is a replace pass to dotless
    placeholders before terminators are counted — the same rule-table
    discipline as functions/german.py's OCR maps (B7). Fixture text is
    built deterministically from doc_id by both engines (q54/q91
    pattern) with a doc-varying sentence count, so the count logic is
    exercised, not constant-folded.

    Spark shape: map-only — construction, the six protection rewrites,
    and the terminator count (length-difference trick, exact int64)
    fuse into one WholeStageCodegen pass; zero shuffles, zero
    Python."""
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.expr(_sent_text()).alias("txt"))
    clean = F.col("txt")
    for pat, repl in _SENT_ABBREV:
        clean = F.regexp_replace(clean, pat, repl)
    p = t.select("doc_id", clean.alias("clean"))
    n_sent = F.length("clean") - F.length(
        F.regexp_replace("clean", r"[.!?]", "")
    )
    return p.select(
        "doc_id",
        n_sent.cast("bigint").alias("n_sentences"),
        F.expr(
            "(length(clean) * 1000) div (length(clean)"
            " - length(regexp_replace(clean, '[.!?]', '')))"
        )
        .cast("bigint")
        .alias("mean_sent_len_e3"),
    )


# =====================================================================
# Tokenizer fertility per language (mixture-sizing diagnostic)
# =====================================================================


@query(
    "q95_tokenizer_fertility",
    f"""
    WITH per_doc AS (
      SELECT lang,
             {textstats.token_count_sql('text')} AS ws,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE length(regexp_extract_all(text,
                    ' ?[A-Za-zÄÖÜäöüß]+| ?[0-9]+| ?[^A-Za-z0-9ÄÖÜäöüß\\s]+'))
             END AS bpe
      FROM documents
    )
    SELECT lang,
           CAST(SUM(ws) AS BIGINT) AS n_ws_tokens,
           CAST(SUM(bpe) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(bpe)::HUGEINT * 1000000 // SUM(ws) AS BIGINT)
             AS fertility_ppm
    FROM per_doc
    GROUP BY lang
    """,
)
def q95(spark, sf_dir):
    """Tokenizer fertility per language — BPE-ish tokens emitted per
    whitespace word, the diagnostic that drives per-language mixture
    and context-budget decisions (a language whose fertility is 2x
    pays 2x the context window per word; packing (q74) and token
    budgets (q66) consume exactly these counts). Reuses q35's two
    counters verbatim so the per-doc and per-language views can never
    drift.

    Spark shape: one map-only token-count pass + one languages-sized
    hash aggregate with map-side partials; the fertility ratio
    multiplies WIDE (decimal(38,0)/HUGEINT — corpus-sized token sums,
    the q77 rule) before the exact integral division, so no int64
    wrap and no float at any scale."""
    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    bpe = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(
        F.size(F.regexp_extract_all(t, F.lit(_BPE_PAT), F.lit(0)))
    )
    per_doc = d.select(
        "lang",
        textstats.token_count_col(t).alias("ws"),
        bpe.cast("long").alias("bpe"),
    )
    return per_doc.groupBy("lang").agg(
        F.sum("ws").cast("bigint").alias("n_ws_tokens"),
        F.sum("bpe").cast("bigint").alias("n_bpe_tokens"),
        F.expr(
            "cast(cast(sum(bpe) as decimal(38,0)) * 1000000 div sum(ws)"
            " as bigint)"
        ).alias("fertility_ppm"),
    )


# =====================================================================
# German compound decompounding (dictionary greedy split)
# =====================================================================

# Closed dictionary of compound constituents (the operator is the
# split dataflow; production swaps in a real lexicon — the PII/q92
# inventory-as-config discipline). Lowercase; joint handling covers
# the Fugen-s ("Rechnungsnummer" = rechnung + s + nummer).
_DECOMP_DICT: tuple[str, ...] = (
    "rechnung", "nummer", "betrag", "kunden", "versicherung",
    "unterlagen", "steuer", "konto",
)


def _decomp_word(s: str) -> str:
    """Deterministic compound fixture: residue picks head/tail
    constituents; every third doc takes a Fugen-s joint, residue 7
    docs emit a bare (non-compound) dictionary word."""
    k = len(_DECOMP_DICT)
    return (
        f"CASE WHEN doc_id % 7 = 0 THEN '{_DECOMP_DICT[0]}'"
        f" WHEN doc_id % 3 = 0 THEN"
        f"   {_dict_at(f'doc_id % {k}', s)} || 's' ||"
        f"   {_dict_at(f'(doc_id + 3) % {k}', s)}"
        f" ELSE {_dict_at(f'doc_id % {k}', s)} ||"
        f"   {_dict_at(f'(doc_id + 1) % {k}', s)} END"
    )


def _dict_at(idx: str, s: str) -> str:
    whens = " ".join(
        f"WHEN {i} THEN '{w}'" for i, w in enumerate(_DECOMP_DICT)
    )
    return f"(CASE {idx} {whens} END)"


_DECOMP_ARR = ", ".join(f"'{w}'" for w in _DECOMP_DICT)


@query(
    "q96_decompound",
    f"""
    WITH w AS (
      SELECT doc_id, {_decomp_word('varchar')} AS word FROM documents
    ), s AS (
      SELECT doc_id, word,
        list_filter(range(1, length(word)),
          i -> list_contains([{_DECOMP_ARR}], substring(word, 1, CAST(i AS INT)))
           AND list_contains([{_DECOMP_ARR}],
                 substring(word, CAST(i + 1 AS INT), length(word))))[1]
          AS cut,
        list_filter(range(1, length(word) - 1),
          i -> list_contains([{_DECOMP_ARR}], substring(word, 1, CAST(i AS INT)))
           AND substring(word, CAST(i + 1 AS INT), 1) = 's'
           AND list_contains([{_DECOMP_ARR}],
                 substring(word, CAST(i + 2 AS INT), length(word))))[1]
          AS cut_s
      FROM w
    )
    SELECT doc_id, word,
           CASE WHEN cut IS NOT NULL THEN substring(word, 1, CAST(cut AS INT))
                WHEN cut_s IS NOT NULL
                  THEN substring(word, 1, CAST(cut_s AS INT))
                ELSE word END AS head,
           CASE WHEN cut IS NOT NULL
                  THEN substring(word, CAST(cut + 1 AS INT), length(word))
                WHEN cut_s IS NOT NULL
                  THEN substring(word, CAST(cut_s + 2 AS INT), length(word))
                ELSE '' END AS tail,
           CAST(cut IS NULL AND cut_s IS NOT NULL AS BOOLEAN) AS fugen_s
    FROM s
    """,
)
def q96(spark, sf_dir):
    """German compound-word decompounding — greedy dictionary split
    with Fugen-s handling ("rechnungsnummer" → rechnung + s + nummer),
    the German-retrieval/tokenization normalization the reference's
    domain implies (German invoice vocabulary is compound-heavy; a
    decompounder is what makes 'Rechnungsnummer' findable by
    'Nummer'). Split rule: the FIRST position where both sides are
    dictionary words wins; a plain split beats a Fugen-s split; a
    word with no valid split stays whole. The fixture compounds are
    constructed deterministically from doc_id by both engines (q91
    pattern) covering all three branches.

    Spark shape: map-only — the candidate positions are an in-row
    `filter(sequence(...))` over the word with the dictionary inlined
    as an array literal (q55/q84 literal-inlining); zero shuffles,
    zero Python, exact and locale-independent."""
    d = load(spark, sf_dir, "documents")
    w = d.select("doc_id", F.expr(_decomp_word("string")).alias("word"))
    arr = f"array({_DECOMP_ARR})"
    cut = (
        f"try_element_at(filter(sequence(1, length(word) - 1),"
        f" i -> array_contains({arr}, substring(word, 1, i))"
        f" and array_contains({arr},"
        f"   substring(word, i + 1, length(word)))), 1)"
    )
    cut_s = (
        f"try_element_at(filter(sequence(1, length(word) - 2),"
        f" i -> array_contains({arr}, substring(word, 1, i))"
        f" and substring(word, i + 1, 1) = 's'"
        f" and array_contains({arr},"
        f"   substring(word, i + 2, length(word)))), 1)"
    )
    s = w.select(
        "doc_id",
        "word",
        F.expr(cut).alias("cut"),
        F.expr(cut_s).alias("cut_s"),
    )
    head = F.expr(
        "CASE WHEN cut IS NOT NULL THEN substring(word, 1, cut)"
        " WHEN cut_s IS NOT NULL THEN substring(word, 1, cut_s)"
        " ELSE word END"
    )
    tail = F.expr(
        "CASE WHEN cut IS NOT NULL"
        "   THEN substring(word, cut + 1, length(word))"
        " WHEN cut_s IS NOT NULL"
        "   THEN substring(word, cut_s + 2, length(word))"
        " ELSE '' END"
    )
    return s.select(
        "doc_id",
        "word",
        head.alias("head"),
        tail.alias("tail"),
        (F.col("cut").isNull() & F.col("cut_s").isNotNull()).alias("fugen_s"),
    )


# =====================================================================
# Host-level curation report (domain filtering)
# =====================================================================

HOST_KEEP_E3 = 500000  # same decision axis as QC_KEEP_E3, host-level


@query(
    "q97_host_curation",
    f"""
    WITH u AS (
      SELECT doc_id,
             regexp_replace(lower(regexp_extract({_url_expr('varchar')},
               '{_URL_HOST_PAT}', 1)), '^www\\.', '') AS host,
             regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ), s AS (
      SELECT host, CAST(len(toks) AS BIGINT) AS n_toks,
             {_QC_WSUM_SQL} AS wsum
      FROM u
    )
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(SUM(wsum)::HUGEINT * 1000 // SUM(n_toks) AS BIGINT)
             AS host_quality_e3,
           CASE WHEN SUM(wsum)::HUGEINT * 1000 // SUM(n_toks)
                     >= {HOST_KEEP_E3}
                THEN 'keep' ELSE 'drop' END AS verdict
    FROM s
    GROUP BY host
    """,
)
def q97(spark, sf_dir):
    """Host-level curation — the domain-filtering stage of a web
    pipeline (RefinedWeb/CCNet run quality decisions per HOST, not per
    page: a spam domain is dropped wholesale, a reputable one keeps
    its tail pages). Composes two existing pieces in lockstep: q93's
    canonical host (same regexes) keys the rollup and q56's hashed
    bag-of-words classifier supplies the per-doc scores; the host
    verdict uses the token-WEIGHTED mean (sum of weights over sum of
    tokens — long pages count more), on the same e3 axis as q56's
    per-doc threshold.

    Spark shape: one map-only pass (URL fixture, host regexes, in-row
    weight fold) + ONE hosts-sized hash aggregate with map-side
    partials. The weighted-mean numerator multiplies WIDE
    (decimal(38,0)/HUGEINT — corpus-sized weight sums, the q77 rule)
    before the exact integral division. At 10^12 docs the shuffle
    carries |hosts| partial rows per task, nothing else."""
    d = load(spark, sf_dir, "documents")
    u = d.select(
        "doc_id",
        F.regexp_replace(
            F.lower(
                F.regexp_extract(
                    F.expr(_url_expr("string")), _URL_HOST_PAT, 1
                )
            ),
            r"^www\.",
            "",
        ).alias("host"),
        F.split(F.trim("text"), r"\s+").alias("toks"),
    )
    s = u.select(
        "host",
        F.expr("cast(size(toks) as bigint)").alias("n_toks"),
        F.expr(_QC_WSUM_SPARK).alias("wsum"),
    )
    agg = s.groupBy("host").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.expr(
            "cast(cast(sum(wsum) as decimal(38,0)) * 1000 div sum(n_toks)"
            " as bigint)"
        ).alias("host_quality_e3"),
    )
    return agg.select(
        "host",
        "n_docs",
        "n_tokens",
        "host_quality_e3",
        F.when(F.col("host_quality_e3") >= HOST_KEEP_E3, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("verdict"),
    )


# =====================================================================
# MinHash calibration audit (estimate vs exact Jaccard)
# =====================================================================


@query(
    "q98_minhash_calibration",
    _SHINGLE_CTE
    + f"""
    , mh AS (SELECT doc_id, {_minhash_sql_cols()} FROM hsh GROUP BY doc_id),
    {_mh_bands_sql()},
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), counts AS (
      SELECT doc_id, COUNT(*) AS n FROM hsh GROUP BY doc_id
    ), inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS ni
      FROM cand c
      JOIN hsh a ON a.doc_id = c.doc_a
      JOIN hsh b ON b.doc_id = c.doc_b AND b.shh = a.shh
      GROUP BY 1, 2
    ), est AS (
      SELECT c.doc_a, c.doc_b,
             ({" + ".join(f"CASE WHEN ma.mh{i} = mb.mh{i} THEN 1 ELSE 0 END"
                          for i in range(len(_MH_COEF)))}) AS m
      FROM cand c
      JOIN mh ma ON ma.doc_id = c.doc_a
      JOIN mh mb ON mb.doc_id = c.doc_b
    )
    SELECT e.doc_a, e.doc_b,
           CAST(e.m * 1000000 // {len(_MH_COEF)} AS BIGINT) AS est_ppm,
           CAST(COALESCE(i.ni, 0) * 1000000
                // (ca.n + cb.n - COALESCE(i.ni, 0)) AS BIGINT)
             AS exact_ppm,
           CAST(abs(e.m * 1000000 // {len(_MH_COEF)}
                    - COALESCE(i.ni, 0) * 1000000
                      // (ca.n + cb.n - COALESCE(i.ni, 0)))
                AS BIGINT) AS abs_err_ppm
    FROM est e
    LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
    JOIN counts ca ON ca.doc_id = e.doc_a
    JOIN counts cb ON cb.doc_id = e.doc_b
    """,
)
def q98(spark, sf_dir):
    """MinHash calibration audit — for every q20 LSH candidate pair,
    the signature-level Jaccard ESTIMATE (matching minhash components
    / k) against the EXACT shingle Jaccard, with the absolute error in
    ppm. This is the diagnostic that sizes (MH_N_BANDS,
    MH_ROWS_PER_BAND) on real data — q86's recall-audit discipline
    applied to the text-LSH family: if the error distribution is wide,
    k is too small; if est systematically overshoots at the band
    threshold, r must grow.

    Spark shape: everything runs on the CANDIDATE set, never all
    pairs — the estimate join touches signatures (one row per doc),
    and the exact-intersection join restricts the shingle relation to
    candidate docs (LSH already bounded candidates, the q62
    verify-the-candidates pattern). Exact integer ppm; a
    collision-only candidate with zero shared shingles lands at
    exact_ppm = 0 via the left join."""
    cand = (
        QUERIES["q20_lsh_candidate_pairs"](spark, sf_dir)
        .select("doc_a", "doc_b")
    )
    shd = _shingles(spark, sf_dir)
    mh = _minhash_df(spark, sf_dir)
    counts = shd.groupBy("doc_id").agg(F.count("*").alias("n"))

    inter = (
        cand.join(
            shd.alias("sa"), F.col("sa.doc_id") == F.col("doc_a")
        )
        .join(
            shd.alias("sb"),
            (F.col("sb.doc_id") == F.col("doc_b"))
            & (F.col("sb.shh") == F.col("sa.shh")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("ni"))
    )
    m_expr = sum(
        F.when(F.col(f"ma.mh{i}") == F.col(f"mb.mh{i}"), 1).otherwise(0)
        for i in range(len(_MH_COEF))
    )
    est = (
        cand.join(mh.alias("ma"), F.col("ma.doc_id") == F.col("doc_a"))
        .join(mh.alias("mb"), F.col("mb.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", m_expr.alias("m"))
    )
    j = (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(
            counts.select(
                F.col("doc_id").alias("doc_a"), F.col("n").alias("na")
            ),
            "doc_a",
        )
        .join(
            counts.select(
                F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")
            ),
            "doc_b",
        )
        .withColumn("ni0", F.coalesce(F.col("ni"), F.lit(0)))
    )
    k = len(_MH_COEF)
    return j.select(
        "doc_a",
        "doc_b",
        F.expr(f"cast(m * 1000000 div {k} as bigint)").alias("est_ppm"),
        F.expr("cast(ni0 * 1000000 div (na + nb - ni0) as bigint)").alias(
            "exact_ppm"
        ),
        F.expr(
            f"cast(abs(m * 1000000 div {k}"
            " - ni0 * 1000000 div (na + nb - ni0)) as bigint)"
        ).alias("abs_err_ppm"),
    )


# =====================================================================
# Host-graph PageRank (link-authority curation signal)
# =====================================================================

PR_ITERS = 3
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # d = 0.85 as an exact ratio
PR_TELEPORT = 150_000_000  # (1 - d) * 1e9, exact
PR_SCALE = 1_000_000_000


def _pr_edges_sql() -> str:
    return """
    e AS (
      SELECT source AS src,
             'src' || CAST((doc_id * 3 + 1) % 20 AS VARCHAR) AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM documents GROUP BY 1, 2
    ), outd AS (SELECT src, SUM(w) AS ow FROM e GROUP BY src),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)
    """


def _pr_iter_sql(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
      SELECT n.node,
             {PR_TELEPORT} + ({PR_DAMP_NUM} * COALESCE(
               SUM((r.r::HUGEINT * e.w) // o.ow), 0)) // {PR_DAMP_DEN} AS r
      FROM nodes n
      LEFT JOIN e ON e.dst = n.node
      LEFT JOIN {prev} r ON r.node = e.src
      LEFT JOIN outd o ON o.src = e.src
      GROUP BY n.node
    )"""


def _q99_oracle() -> str:
    its = ",".join(
        _pr_iter_sql(f"it{i - 1}" if i > 1 else "r0", f"it{i}")
        for i in range(1, PR_ITERS + 1)
    )
    return f"""
    WITH {_pr_edges_sql()},
    r0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS r FROM nodes),
    {its}
    SELECT node AS host, CAST(r AS BIGINT) AS rank_e9 FROM it{PR_ITERS}
    """


@query("q99_host_pagerank", _q99_oracle())
def q99(spark, sf_dir):
    """Host-graph PageRank — the link-authority signal web-curation
    pipelines (Common Crawl host ranks, OPIC crawl ordering) combine
    with content quality (q97) to decide which domains to crawl and
    keep. The doc→host link graph is constructed deterministically
    from doc_id by both engines (q91 fixture pattern); the recurrence
    runs {PR_ITERS} unrolled iterations of the EXACT-INTEGER form
    r' = (1-d)·1e9 + d·Σ_in floor(r·w / out) with d = 85/100, floors
    applied identically in both engines — bit-equal ranks, no float
    anywhere (the iterative-algorithm twin of q42's contraction CC).

    Spark shape: the ONLY corpus-scale stage is the edge aggregation
    (one groupBy building the weighted host graph — at 10^12 docs this
    is the map-side-combining shuffle); every iteration then runs on
    the hosts-sized relation: broadcast-joinable ranks × edges, one
    tiny agg per iteration. Products widen per the q77 rule
    (decimal(38,0)/HUGEINT) because rank mass is corpus-scaled."""
    d = load(spark, sf_dir, "documents")
    e = (
        d.select(
            F.col("source").alias("src"),
            F.expr(
                "'src' || cast((doc_id * 3 + 1) % 20 as string)"
            ).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    outd = e.groupBy("src").agg(F.sum("w").alias("ow"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    ranks = nodes.select(
        "node", F.lit(PR_SCALE).cast("bigint").alias("r")
    )
    for _ in range(PR_ITERS):
        contrib = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(outd, "src")
            .select(
                "dst",
                F.expr(
                    "cast(cast(r as decimal(38,0)) * w div ow as"
                    " decimal(38,0))"
                ).alias("t"),
            )
        )
        summed = contrib.groupBy("dst").agg(F.sum("t").alias("s"))
        ranks = nodes.join(
            summed, nodes["node"] == summed["dst"], "left"
        ).select(
            "node",
            F.expr(
                f"{PR_TELEPORT} + ({PR_DAMP_NUM} *"
                f" coalesce(s, cast(0 as decimal(38,0))))"
                f" div {PR_DAMP_DEN}"
            ).alias("r"),
        )
    return ranks.select(
        F.col("node").alias("host"), F.col("r").cast("bigint").alias("rank_e9")
    )


# Mojibake construction for q100: the fixture corpus is plain-ASCII
# word salad, so the German characters — and the double-encoding damage
# — are planted deterministically by BOTH engines from the same rule
# (the q54 planting pattern, but here the oracle EXECUTES the identical
# string algebra rather than deriving expected counts). 'value'→'wärte'
# and 'group'→'größe' inject ä/ö/ß from words present in nearly every
# fixture document; residue-0 (doc_id % 4) documents are then damaged
# by re-reading each character's UTF-8 bytes as Latin-1 — exactly the
# double-encoding that produces real-web 'Ã¤'/'Ã¶'/'ÃŸ' mojibake.
MOJI_PAIRS = (("ä", "Ã¤"), ("ö", "Ã¶"), ("ß", "ÃŸ"))


@query(
    "q100_mojibake_repair",
    """
    WITH w AS (
      SELECT source,
             replace(replace(text, 'value', 'wärte'),
                     'group', 'größe') AS base,
             CASE WHEN doc_id % 4 = 0
                  THEN replace(replace(replace(
                         replace(replace(text, 'value', 'wärte'),
                                 'group', 'größe'),
                         'ä', 'Ã¤'), 'ö', 'Ã¶'), 'ß', 'ÃŸ')
                  ELSE replace(replace(text, 'value', 'wärte'),
                               'group', 'größe')
             END AS wire
      FROM documents
    ), h AS (
      SELECT source, base,
             (len(string_split(wire, 'Ã¤')) - 1)
               + (len(string_split(wire, 'Ã¶')) - 1)
               + (len(string_split(wire, 'ÃŸ')) - 1) AS hits,
             replace(replace(replace(wire, 'Ã¤', 'ä'),
                             'Ã¶', 'ö'), 'ÃŸ', 'ß') AS repaired
      FROM w
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS mojibake_docs,
           CAST(SUM(hits) AS BIGINT) AS umlaut_hits,
           CAST(SUM(CASE WHEN repaired = base THEN 1 ELSE 0 END) AS BIGINT)
             AS repaired_ok_docs
    FROM h GROUP BY source
    """,
)
def q100(spark, sf_dir):
    """Mojibake (double-encoded UTF-8) detection and repair — the
    encoding-sanitation pass a German web corpus runs before any other
    text operator: umlauts whose UTF-8 bytes were re-decoded as Latin-1
    somewhere in the crawl path surface as 'Ã¤'/'Ã¶'/'ÃŸ', and every
    downstream stage (langid q16, dedup shingles q18, OCR-post rules
    `functions/german.py`) silently degrades on the damaged form. Per
    source: document count, damaged-document count, total damage hits,
    and a round-trip audit (repaired text == pre-damage text) proving
    the repair map is lossless on this corpus. The fixture is
    plain-ASCII, so the German characters and the damage are planted
    deterministically by doc_id (see MOJI_PAIRS above); detection and
    repair then run the real string algebra on both engines.

    Spark shape: construction, hit counting (split-count trick — the
    q52 pattern; no regexp materialization), and repair are ONE
    map-only whole-stage-codegen pass; the report is a sources-sized
    groupBy with map-side partial aggregation. At 100 TB the shuffle
    carries |sources| partial rows per task and the corpus is touched
    exactly once; the repaired column is the map-only output a real
    sanitation job would write straight back to the span table."""
    d = load(spark, sf_dir, "documents")
    base = F.expr(
        "replace(replace(text, 'value', 'wärte'), 'group', 'größe')"
    )
    # chained literal replaces, innermost first (ä, then ö, then ß)
    dmg_expr = "replace(replace(text, 'value', 'wärte'), 'group', 'größe')"
    for good, bad in MOJI_PAIRS:
        dmg_expr = f"replace({dmg_expr}, '{good}', '{bad}')"
    wire = F.when(F.col("doc_id") % 4 == 0, F.expr(dmg_expr)).otherwise(base)
    w = d.select("source", base.alias("base"), wire.alias("wire"))
    hits = sum(
        (F.size(F.split(F.col("wire"), bad, -1)) - 1).cast("bigint")
        for _, bad in MOJI_PAIRS
    )
    rep_expr = "wire"
    for good, bad in MOJI_PAIRS:
        rep_expr = f"replace({rep_expr}, '{bad}', '{good}')"
    h = w.select(
        "source",
        hits.alias("hits"),
        (F.expr(rep_expr) == F.col("base")).cast("int").alias("ok"),
    )
    return h.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("hits") > 0).cast("int")).cast("bigint").alias(
            "mojibake_docs"
        ),
        F.sum("hits").cast("bigint").alias("umlaut_hits"),
        F.sum("ok").cast("bigint").alias("repaired_ok_docs"),
    )


@query(
    "q101_dedup_savings",
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, '  ' || text || '  ' AS text
      FROM documents WHERE doc_id % 7 = 0
    ), g AS (
      SELECT {textstats.fingerprint_sql('text')} AS fp,
             COUNT(*) AS sz,
             CAST(SUM(length(text)) - MIN(length(text)) AS BIGINT)
               AS red_chars
      FROM corpus GROUP BY 1
    )
    SELECT sz AS group_size, COUNT(*) AS n_groups,
           CAST(SUM(sz - 1) AS BIGINT) AS redundant_docs,
           CAST(SUM(red_chars) AS BIGINT) AS redundant_chars
    FROM g GROUP BY sz
    """,
)
def q101(spark, sf_dir):
    """Dedup-savings report — the summary every production dedup run
    emits before anyone trusts it: the duplicate-group-size histogram
    plus how many documents and characters an exact dedup would drop
    (keeping each group's shortest member). The live fixture is
    all-singletons, so a re-crawl is planted deterministically: every
    residue-0 (doc_id % 7) document re-enters under a new id with
    whitespace padding — which q17's canonical fingerprint (lower +
    whitespace-collapse + md5) must collapse, so the report also
    regression-tests the canonicalization itself (padding changes
    length(text) but not fp).

    Spark shape: the union is scan-level (two parquet scans, no
    shuffle); the ONE corpus-scale stage is q17's fingerprint groupBy
    (map-side partial agg on the 16-byte key); the histogram then runs
    over the group-sized relation — at 10^12 docs the second groupBy
    touches group counts, never documents."""
    d = load(spark, sf_dir, "documents")
    recrawl = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("  "), F.col("text"), F.lit("  ")).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(recrawl)
    g = corpus.groupBy(
        textstats.fingerprint_col(F.col("text")).alias("fp")
    ).agg(
        F.count("*").alias("sz"),
        (F.sum(F.length("text")) - F.min(F.length("text")))
        .cast("bigint")
        .alias("red_chars"),
    )
    return g.groupBy(F.col("sz").alias("group_size")).agg(
        F.count("*").alias("n_groups"),
        F.sum(F.col("sz") - 1).cast("bigint").alias("redundant_docs"),
        F.sum("red_chars").cast("bigint").alias("redundant_chars"),
    )


@query(
    "q102_source_diversity",
    """
    WITH c AS (
      SELECT lang, source, COUNT(*) AS c FROM documents GROUP BY 1, 2
    ), p AS (
      SELECT lang, CAST(SUM(c) AS HUGEINT) AS n,
             SUM(c::HUGEINT * c) AS s2,
             COUNT(*) AS n_sources
      FROM c GROUP BY 1
    )
    SELECT lang, CAST(n AS BIGINT) AS n_docs, n_sources,
           CAST(((n * n - s2) * 1000000) // (n * n) AS BIGINT)
             AS simpson_e6
    FROM p
    """,
)
def q102(spark, sf_dir):
    """Source-diversity index of the training mix — per language, the
    Gini–Simpson index 1 − Σ pᵢ² over source shares (the probability
    two random documents come from different sources): the one-number
    mix-health metric a curation run tracks per snapshot. A language
    fed by one dominant crawl scores near 0; an even 20-source mix
    scores near 1 − 1/20. Shannon entropy needs log() and floats;
    Gini–Simpson is a polynomial, so it runs in EXACT integer
    arithmetic end to end — ((n² − Σc²)·1e6) div n², products widened
    decimal(38,0)/HUGEINT (the q77 rule: per-source counts are
    corpus-sized, c² wraps int64 past ~3·10⁹ docs per cell).

    Spark shape: ONE corpus-scale stage — the (lang, source) groupBy
    with map-side partial aggregation (langs × sources cells per task
    cross the exchange, never rows); the index itself runs on the
    languages-sized relation."""
    d = load(spark, sf_dir, "documents")
    c = d.groupBy("lang", "source").agg(F.count("*").alias("c"))
    p = c.groupBy("lang").agg(
        F.sum("c").cast("decimal(38,0)").alias("n"),
        F.sum(F.expr("cast(c as decimal(38,0)) * c")).alias("s2"),
        F.count("*").alias("n_sources"),
    )
    return p.select(
        "lang",
        F.col("n").cast("bigint").alias("n_docs"),
        "n_sources",
        F.expr("((n * n - s2) * 1000000) div (n * n)")
        .cast("bigint")
        .alias("simpson_e6"),
    )


@query(
    "q103_extraction_yield",
    """
    WITH w AS (
      SELECT source,
             '<html><nav>nav nav nav</nav><p>' || text ||
               '</p><footer>(c) ' || source || '</footer></html>' AS wire,
             text AS main_txt
      FROM documents
    ), y AS (
      SELECT source,
             length(wire) AS wire_chars,
             length(regexp_extract(wire, '<p>([^<]*)</p>', 1))
               AS extracted_chars,
             CASE WHEN regexp_extract(wire, '<p>([^<]*)</p>', 1) = main_txt
                  THEN 1 ELSE 0 END AS exact_ok
      FROM w
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(wire_chars) AS BIGINT) AS wire_chars,
           CAST(SUM(extracted_chars) AS BIGINT) AS extracted_chars,
           CAST(CAST(SUM(extracted_chars) AS HUGEINT) * 1000000
                // SUM(wire_chars) AS BIGINT) AS yield_ppm,
           CAST(SUM(exact_ok) AS BIGINT) AS exact_ok_docs
    FROM y GROUP BY source
    """,
)
def q103(spark, sf_dir):
    """Extraction-yield monitor — the per-source ops metric an
    extraction pipeline watches between runs: main-content characters
    out per wire character in. A source whose yield drops between
    snapshots changed its template (more boilerplate, broken markup)
    before any downstream quality metric notices. The wire document is
    constructed deterministically (nav + main <p> + footer around the
    fixture text — the q54 planting pattern); the extraction here is
    the SQL-expressible single-block regex rule so BOTH engines execute
    the identical algebra (the full DOM-heuristic kernel path is
    oracle-checked separately via q32's golden parquet), and an
    exact-match audit column proves the extracted block equals the
    known main text on every document.

    Spark shape: construction, regexp_extract, and the length algebra
    are ONE map-only WholeStageCodegen pass; the report is a
    sources-sized groupBy with map-side partials. Yield multiplies
    WIDE (decimal(38,0)/HUGEINT — per-source char mass is
    corpus-sized) before the exact ppm division."""
    d = load(spark, sf_dir, "documents")
    wire = F.concat(
        F.lit("<html><nav>nav nav nav</nav><p>"),
        F.col("text"),
        F.lit("</p><footer>(c) "),
        F.col("source"),
        F.lit("</footer></html>"),
    )
    w = d.select("source", F.col("text").alias("main_txt"), wire.alias("wire"))
    ext = F.regexp_extract("wire", r"<p>([^<]*)</p>", 1)
    y = w.select(
        "source",
        F.length("wire").alias("wire_chars"),
        F.length(ext).alias("extracted_chars"),
        (ext == F.col("main_txt")).cast("int").alias("exact_ok"),
    )
    return y.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("wire_chars").cast("bigint").alias("wire_chars"),
        F.sum("extracted_chars").cast("bigint").alias("extracted_chars"),
        F.expr(
            "cast(cast(sum(extracted_chars) as decimal(38,0)) * 1000000"
            " div sum(wire_chars) as bigint)"
        ).alias("yield_ppm"),
        F.sum("exact_ok").cast("bigint").alias("exact_ok_docs"),
    )


@query(
    "q104_ingest_profile",
    """
    WITH a AS (
      SELECT
        CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS id_nulls,
        CAST(SUM(CASE WHEN doc_id < 0 THEN 1 ELSE 0 END) AS BIGINT) AS id_negatives,
        CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS text_nulls,
        CAST(SUM(CASE WHEN trim(coalesce(text, '')) = '' THEN 1 ELSE 0 END) AS BIGINT) AS text_blanks,
        CAST(MAX(length(coalesce(text, ''))) AS BIGINT) AS text_max_len,
        CAST(SUM(CASE WHEN trim(coalesce(lang, '')) = '' THEN 1 ELSE 0 END) AS BIGINT) AS lang_blanks,
        CAST(SUM(CASE WHEN trim(coalesce(source, '')) = '' THEN 1 ELSE 0 END) AS BIGINT) AS source_blanks,
        CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nchars_nulls,
        CAST(SUM(CASE WHEN n_chars IS NOT NULL AND text IS NOT NULL
                       AND n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT) AS nchars_mismatches
      FROM documents
    )
    SELECT 'doc_id' AS col, 'nulls' AS metric, id_nulls AS value FROM a
    UNION ALL SELECT 'doc_id', 'negatives', id_negatives FROM a
    UNION ALL SELECT 'text', 'nulls', text_nulls FROM a
    UNION ALL SELECT 'text', 'blanks', text_blanks FROM a
    UNION ALL SELECT 'text', 'max_len', text_max_len FROM a
    UNION ALL SELECT 'lang', 'blanks', lang_blanks FROM a
    UNION ALL SELECT 'source', 'blanks', source_blanks FROM a
    UNION ALL SELECT 'n_chars', 'nulls', nchars_nulls FROM a
    UNION ALL SELECT 'n_chars', 'mismatches', nchars_mismatches FROM a
    """,
)
def q104(spark, sf_dir):
    """Ingest profile — the column-integrity report a 10^12-row ingest
    runs before anything downstream trusts the table: per column,
    null / blank / out-of-range counters, plus the cross-column
    invariant this schema carries (n_chars == length(text), the
    precomputed-stat drift check — a loader that re-encodes text but
    keeps stale stats fails HERE, not three stages later). Long-format
    (col, metric, value) output so a new check is a new row, never a
    schema change (q65's unpivot discipline).

    Spark shape: every counter is a conditional SUM inside ONE hash
    aggregate over a single map pass — map-side partials collapse each
    task to one row of counters, the exchange carries one row per
    task, and the unpivot to long format is a zero-shuffle Expand on
    the single aggregated row. The corpus is scanned exactly once for
    all nine checks."""
    d = load(spark, sf_dir, "documents")
    cnt = lambda c: F.sum(c.cast("int")).cast("bigint")  # noqa: E731
    a = d.agg(
        cnt(F.col("doc_id").isNull()).alias("id_nulls"),
        cnt(F.col("doc_id") < 0).alias("id_negatives"),
        cnt(F.col("text").isNull()).alias("text_nulls"),
        cnt(F.trim(F.coalesce("text", F.lit(""))) == "").alias("text_blanks"),
        F.max(F.length(F.coalesce("text", F.lit(""))))
        .cast("bigint")
        .alias("text_max_len"),
        cnt(F.trim(F.coalesce("lang", F.lit(""))) == "").alias("lang_blanks"),
        cnt(F.trim(F.coalesce("source", F.lit(""))) == "").alias(
            "source_blanks"
        ),
        cnt(F.col("n_chars").isNull()).alias("nchars_nulls"),
        cnt(
            F.col("n_chars").isNotNull()
            & F.col("text").isNotNull()
            & (F.col("n_chars") != F.length("text"))
        ).alias("nchars_mismatches"),
    )
    pairs = [
        ("doc_id", "nulls", "id_nulls"),
        ("doc_id", "negatives", "id_negatives"),
        ("text", "nulls", "text_nulls"),
        ("text", "blanks", "text_blanks"),
        ("text", "max_len", "text_max_len"),
        ("lang", "blanks", "lang_blanks"),
        ("source", "blanks", "source_blanks"),
        ("n_chars", "nulls", "nchars_nulls"),
        ("n_chars", "mismatches", "nchars_mismatches"),
    ]
    stack = ", ".join(f"'{c}', '{m}', {src}" for c, m, src in pairs)
    return a.select(
        F.expr(
            f"stack({len(pairs)}, {stack}) as (col, metric, value)"
        )
    )


@query(
    "q105_kmeans_update",
    _EMB_DIMS_CTE
    + f"""
    , cents AS (SELECT vec_id AS cell, pos, v FROM dims WHERE vec_id < {IVF_N_CELLS}),
    cdists AS (
      SELECT d.vec_id, c.cell,
             CAST(SUM(CAST((d.v - c.v) * (d.v - c.v) AS DECIMAL(28,12))) AS DOUBLE)
               AS d2
      FROM dims d JOIN cents c ON c.pos = d.pos
      WHERE d.vec_id >= {IVF_N_CELLS}
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
      FROM cdists
    ),
    assign AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
    upd AS (
      SELECT a.cell, d.pos, COUNT(*) AS n_members,
             CAST(SUM(CAST(d.v AS DECIMAL(28,12))) AS DOUBLE) AS s
      FROM assign a JOIN dims d ON d.vec_id = a.vec_id
      GROUP BY 1, 2
    )
    SELECT cell, pos, n_members,
           {_floor6_sql('s / n_members')} AS mean_f6
    FROM upd
    """,
)
def q105(spark, sf_dir):
    """K-means (Lloyd) centroid-update step — the index-BUILD loop the
    IVF family (q33 assign, q44 search, staged_ivf lists) trains with:
    assign every corpus vector to its nearest centroid, then emit each
    cell's member count and per-dimension mean (the new centroid, in
    long (cell, pos) form so the next iteration inlines it the way
    _cent_dist_arr already does). Per-dimension sums accumulate in
    exact DECIMAL(28,12) (order-independent — the _fold_dec parity
    rule), and the mean crosses the engine boundary floor6-rounded
    (the ratio convention at the top of this module).

    Spark shape: assignment is q33's map-only pattern (centroid
    literals, in-row loop-form distance, zero shuffle); the update is
    ONE hash aggregate over the corpus with 64 per-dimension SUM
    expressions + COUNT (map-side partials collapse each task to
    |cells| rows — the shuffle carries cell partials, never vectors;
    the dims-EXPLOSION the oracle uses would shuffle 64x the corpus).
    The long-format output is a zero-shuffle stack/Expand over the
    cells-sized aggregate. At 10^12 vectors each Lloyd iteration costs
    exactly one corpus scan and one cells-wide exchange."""
    assign, _ = _ivf_assign_probes(spark, sf_dir)
    dim_sums = [
        F.sum(
            F.expr(
                f"cast(cast(element_at(c_emb, {p}) as double)"
                f" as decimal(28,12))"
            )
        ).alias(f"s{p}")
        for p in range(1, 65)
    ]
    agg = assign.groupBy("cell").agg(
        F.count("*").alias("n_members"), *dim_sums
    )
    stack = ", ".join(f"{p}, s{p}" for p in range(1, 65))
    long = agg.select(
        "cell",
        "n_members",
        F.expr(f"stack(64, {stack}) as (pos, s)"),
    )
    return long.select(
        "cell",
        F.col("pos").cast("bigint").alias("pos"),
        "n_members",
        _floor6(F.expr("cast(s as double)") / F.col("n_members")).alias(
            "mean_f6"
        ),
    )


# Inspection-sample parameters: K docs per language stratum for human
# QA, and the hash-threshold prefilter that keeps the ranking window
# off the corpus. Survivors per stratum ≈ n_docs·T/65536; size T so the
# expected survivor count is ≥4·K for the smallest stratum you care
# about (T = 65536·4K/n_min — here 16384 gives ~25 expected survivors
# per 100-doc sf0.01 stratum for K=8). A stratum with fewer than K
# survivors reports fewer rows (both engines, identically) — at
# production strata (≥10^6 docs) the shortfall probability is
# astronomically small, and n_sampled in the output makes it auditable.
INSPECT_K = 8
INSPECT_PRE_T = 16384


@query(
    "q106_inspection_sample",
    f"""
    WITH h AS (
      SELECT lang, doc_id,
             CAST(('0x' || substring(md5('qa:' || CAST(doc_id AS VARCHAR)),
                                     1, 4))::BIGINT AS BIGINT) AS h16
      FROM documents
    ), surv AS (
      SELECT lang, doc_id, h16,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY h16 ASC, doc_id ASC) AS rk
      FROM h WHERE h16 < {INSPECT_PRE_T}
    )
    SELECT lang, rk, doc_id, h16 FROM surv WHERE rk <= {INSPECT_K}
    """,
)
def q106(spark, sf_dir):
    """Per-stratum inspection sample — 'pull K random documents per
    language for human QA', the spot-check every curation change ships
    with. The sample is a DETERMINISTIC uniform draw (rank by a salted
    md5 of doc_id): re-running the pipeline reproduces the exact same
    K docs, so reviewers diff snapshots instead of re-sampling, and
    two engines agree bit-for-bit — no RNG state anywhere.

    Spark shape: the scale trick is the hash-threshold PREFILTER —
    h16 < {INSPECT_PRE_T} is map-only and keeps only ~T/65536 of the
    corpus, so the per-stratum ranking window runs over a relation
    ~4K rows per stratum instead of 10^12 (a bare row_number window
    over the corpus would shuffle ALL of it into per-lang partitions —
    the single-partition-window trap at stratum scale). Sizing rule at
    INSPECT_PRE_T above; the draw stays unbiased because the ranking
    key IS the filter key."""
    d = load(spark, sf_dir, "documents")
    h16 = F.expr(
        "cast(conv(substring(md5('qa:' || cast(doc_id as string)),"
        " 1, 4), 16, 10) as bigint)"
    )
    surv = d.select("lang", "doc_id", h16.alias("h16")).filter(
        F.col("h16") < INSPECT_PRE_T
    )
    w = Window.partitionBy("lang").orderBy(F.asc("h16"), F.asc("doc_id"))
    return (
        surv.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= INSPECT_K)
        .select("lang", "rk", "doc_id", "h16")
    )


# Duplicate-span parameters (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better" — ExactSubstr): a run of
# DUPSPAN_K consecutive tokens counts as duplicated when it appears in
# at least DUPSPAN_DF_MIN distinct documents. Production uses ~50 BPE
# tokens and DF_MIN=2; K=5 here so the word-soup fixtures (vocab ~30)
# actually plant cross-doc runs. Scaling: K only changes an in-row
# window width; DF_MIN=2 is the semantics (any cross-doc repeat), and
# no df CAP is needed because — unlike q18's pair stage — the hot-gram
# join back to postings is LINEAR in occurrences, never O(df^2).
DUPSPAN_K = 5
DUPSPAN_DF_MIN = 2

# ONE spelling of the gram hash (Spark SQL over a `toks` array with
# 1-based window start `i`) — every consumer (q107's df count and
# postings, q119's rewrite) MUST hash token-for-token identically or
# a gram silently becomes non-hot.
_DUPSPAN_GRAM_HASH = (
    "cast(conv(substring(md5(concat_ws(' ', toks[i-1], toks[i],"
    " toks[i+1], toks[i+2], toks[i+3])), 1, 12), 16, 10) as bigint)"
)

# Shared oracle CTE prefix (the DuckDB mirror of _dupspan_hot_starts):
# tokens -> positioned grams -> 48-bit hashes -> hot grams ->
# positioned hot postings. q107 appends the stats aggregation, q119
# the rewrite.
_DUPSPAN_CTES = f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok,
             generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1)
               AS pos
      FROM documents
    ), nt AS (
      SELECT doc_id, COUNT(*) AS n_tokens FROM tok GROUP BY doc_id
    ), g AS (
      SELECT doc_id, pos,
             tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w
                 || ' ' || lead(tok,3) OVER w || ' ' || lead(tok,4) OVER w
               AS gram
      FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), h AS (
      SELECT doc_id, pos, ('0x' || substr(md5(gram), 1, 12))::BIGINT AS gh
      FROM g WHERE gram IS NOT NULL
    ), hot AS (
      SELECT gh FROM h GROUP BY gh
      HAVING COUNT(DISTINCT doc_id) >= {DUPSPAN_DF_MIN}
    ), hp AS (
      SELECT h.doc_id, h.pos FROM h JOIN hot USING (gh)
    )
"""


def _dupspan_toks(d: DataFrame) -> DataFrame:
    """(doc_id, toks): the ONE tokenizer spelling the dupspan family
    shares with its oracle's regexp_split_to_array."""
    return d.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
    )


def _dupspan_hot_starts(d: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, ps): per AFFECTED doc, the sorted start
    positions of corpus-duplicated {DUPSPAN_K}-gram runs — the shared
    posting/df machinery under q107 (stats) and q119 (rewrite). Plan
    shape documented on q107."""
    K = DUPSPAN_K
    toks_df = _dupspan_toks(d)
    grams = F.expr(
        f"CASE WHEN size(toks) >= {K} THEN "
        f"transform(sequence(1, size(toks) - {K - 1}),"
        f" i -> struct({_DUPSPAN_GRAM_HASH} AS gh, i AS pos)) "
        "ELSE array() END"
    )
    posts = toks_df.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.explode(grams).alias("g"),
    ).select("doc_id", "n_tokens", "g.gh", "g.pos")
    gh_distinct = F.expr(
        f"CASE WHEN size(toks) >= {K} THEN "
        f"array_distinct(transform(sequence(1, size(toks) - {K - 1}),"
        f" i -> {_DUPSPAN_GRAM_HASH}))"
        " ELSE array() END"
    )
    hot = (
        toks_df.select(F.explode(gh_distinct).alias("gh"))
        .groupBy("gh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= DUPSPAN_DF_MIN)
        .select("gh")
    )
    return (
        posts.join(hot, "gh")
        .groupBy("doc_id", "n_tokens")
        .agg(F.array_sort(F.collect_list("pos")).alias("ps"))
    )


@query(
    "q107_dupspan_removal",
    _DUPSPAN_CTES
    + f"""
    , m AS (
      SELECT doc_id, pos,
             least({DUPSPAN_K},
                   coalesce(lead(pos) OVER w - pos, {DUPSPAN_K})) AS cov,
             CASE WHEN lag(pos) OVER w IS NULL
                       OR pos - lag(pos) OVER w >= {DUPSPAN_K}
                  THEN 1 ELSE 0 END AS brk
      FROM hp WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    )
    SELECT m.doc_id,
           CAST(nt.n_tokens AS BIGINT) AS n_tokens,
           CAST(SUM(m.cov) AS BIGINT) AS dup_tokens,
           CAST(SUM(m.brk) AS BIGINT) AS dup_spans,
           (floor((nt.n_tokens - SUM(m.cov)) * 1000000.0 / nt.n_tokens)
              / 1000000.0) AS keep_ratio
    FROM m JOIN nt USING (doc_id)
    GROUP BY m.doc_id, nt.n_tokens
    """,
)
def q107(spark, sf_dir):
    """Duplicate n-gram SPAN removal (ExactSubstr dedup, Lee et al.
    2022): find every {DUPSPAN_K}-token run that appears in ≥2
    distinct documents, merge overlapping runs per document into
    maximal spans, and report per-doc removal stats (duplicated
    tokens, merged span count, keep ratio) — the substring-level
    companion to whole-doc dedup (q17/q18): boilerplate headers,
    license blocks and syndicated paragraphs duplicate *inside*
    otherwise-unique documents, and span removal recovers those
    tokens instead of dropping whole docs.

    Spark shape: grams are hashed to 48-bit int64 IN-ROW before any
    explode (q18's rule — 8-byte shuffle keys), carrying their 1-based
    start position. The distinct-doc df is counted WITHOUT a distinct
    shuffle: per-doc gram hashes are array_distinct'ed in-row, so the
    df aggregation is a plain map-side-partial COUNT over 8-byte keys
    (COUNT(DISTINCT doc_id) ≡ count over per-doc-distinct rows — the
    oracle keeps the relational spelling). Two linear shuffles total:
    (1) that df count, (2) regroup of surviving positions per doc;
    the postings ⋈ hot-gram join is broadcast at this SF and degrades
    to a co-partitioned hash join on gh at scale. Interval merge is
    IN-ROW over each doc's sorted start array — covered =
    Σ least(K, next−start) — so no window function ever shuffles the
    token stream, and per-gram work is linear in occurrences (no pair
    enumeration: a 10^6-df license block costs 10^6 posting rows, not
    10^12 pairs). The oracle replays the merge relationally with
    lead()/lag() windows."""
    K = DUPSPAN_K
    perdoc = _dupspan_hot_starts(load(spark, sf_dir, "documents"))
    dup_tokens = F.expr(
        f"aggregate(zip_with(ps,"
        f" concat(slice(ps, 2, size(ps) - 1),"
        f" array(element_at(ps, -1) + {K})),"
        f" (s, n) -> least({K}, n - s)), 0L, (a, x) -> a + x)"
    )
    dup_spans = F.expr(
        f"1 + size(filter(zip_with(slice(ps, 2, size(ps) - 1),"
        f" slice(ps, 1, size(ps) - 1), (c, p) -> c - p),"
        f" g -> g >= {K}))"
    )
    return perdoc.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        dup_tokens.alias("dup_tokens"),
        dup_spans.cast("bigint").alias("dup_spans"),
    ).withColumn(
        "keep_ratio",
        F.floor(
            (F.col("n_tokens") - F.col("dup_tokens"))
            * 1000000.0
            / F.col("n_tokens")
        )
        / 1000000.0,
    )


# Multilingual sampling temperature (XLM/XLM-R style): sampling weight
# p_l ∝ n_l^ALPHA with ALPHA = 0.5, i.e. sqrt — upweights low-resource
# languages relative to their raw token share. ALPHA is fixed at 1/2
# deliberately: sqrt of an int64 below 2^52 is correctly rounded IEEE
# on every engine and floor(sqrt(n)) is then EXACT for n < 2^52 (the
# nearest integer to √n for non-squares is > 0.5 ulp away while
# √n < 2^26), so the weight basis is an exact integer on both engines
# and no libm pow() discrepancy can leak into the hash gate. 2^52
# tokens per language ≈ 4.5e15 — above any real per-language corpus.
# (α is deliberately NOT a tunable constant: both the Spark code and
# the oracle hardcode sqrt, and a different α needs a different
# exactness argument — pow() is not correctly rounded.)


@query(
    "q108_language_mix",
    """
    WITH t AS (
      SELECT lang,
             CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+')))
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ), s AS (
      SELECT lang, n_tokens,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS sq
      FROM t
    ), tot AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
             CAST(SUM(sq) AS BIGINT) AS ssq
      FROM s
    )
    SELECT lang, n_tokens,
           (floor(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE)
                  * 1000000.0) / 1000000.0) AS raw_share,
           (floor(CAST(sq AS DOUBLE) / CAST(ssq AS DOUBLE)
                  * 1000000.0) / 1000000.0) AS temp_share,
           (floor(CAST(sq AS DOUBLE) * CAST(total AS DOUBLE)
                  / (CAST(ssq AS DOUBLE) * CAST(n_tokens AS DOUBLE))
                  * 1000000.0) / 1000000.0) AS epoch_boost
    FROM s, tot
    """,
)
def q108(spark, sf_dir):
    """Temperature-scaled multilingual sampling weights (XLM-R's
    α-smoothed multinomial, α = 1/2): per-language token counts →
    sampling share ∝ √n_l, plus the epoch-boost factor
    (temp_share / raw_share — how many times more often a language is
    visited than its raw size would give it). This is the table a
    training-data loader consumes to balance high- vs low-resource
    languages; α = 1/2 keeps the weight basis an exact integer on both
    engines (rule in the comment block above this query).

    Spark shape: ONE corpus-scale stage — the per-lang token groupBy
    with map-side partials (per-doc token counts are computed in-row;
    only lang-keyed partial sums cross the exchange). The totals are a
    1-row aggregate over the languages-sized relation, broadcast back
    by crossJoin; every ratio is a scalar double expression evaluated
    identically by both engines (exact-int operands, one IEEE rounding
    per operation, floor6 projection). At 10^12 docs the plan is one
    scan + one languages-wide exchange — nothing else grows."""
    d = load(spark, sf_dir, "documents")
    per_lang = (
        d.select(
            "lang",
            F.size(F.split(F.trim("text"), r"\s+"))
            .cast("bigint")
            .alias("nt"),
        )
        .groupBy("lang")
        .agg(F.sum("nt").alias("n_tokens"))
        .select(
            "lang",
            "n_tokens",
            F.floor(F.sqrt(F.col("n_tokens").cast("double")))
            .cast("bigint")
            .alias("sq"),
        )
    )
    tot = per_lang.agg(
        F.sum("n_tokens").alias("total"), F.sum("sq").alias("ssq")
    )
    j = per_lang.crossJoin(F.broadcast(tot))
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    return j.select(
        "lang",
        "n_tokens",
        _floor6(dbl("n_tokens") / dbl("total")).alias("raw_share"),
        _floor6(dbl("sq") / dbl("ssq")).alias("temp_share"),
        _floor6(
            dbl("sq") * dbl("total") / (dbl("ssq") * dbl("n_tokens"))
        ).alias("epoch_boost"),
    )


@query(
    "q109_nfc_normalize",
    """
    WITH dmg AS (
      SELECT doc_id, replace(text, 'a', 'a' || chr(776)) AS d
      FROM documents
    )
    SELECT doc_id,
           CAST(length(d) - length(nfc_normalize(d)) AS BIGINT)
             AS n_composed,
           substr(md5(nfc_normalize(d)), 1, 16) AS norm_hash
    FROM dmg
    """,
)
def q109(spark, sf_dir):
    """Unicode NFC canonicalization — the ingest step that makes
    dedup/fingerprint hashes stable across sources: the same visible
    text arrives precomposed ('ä', U+00E4) from one crawler and
    decomposed ('a'+U+0308) from another, and every downstream hash
    (q17 fingerprints, q18/q19 shingles, q36 winnowing) treats them as
    different documents unless the corpus is canonicalized first. The
    query plants decomposed sequences deterministically (every 'a'
    gains a combining diaeresis — same rewrite in both engines), runs
    NFC, and emits the composed-codepoint count plus an md5 of the
    normalized text so the driver's hash gate verifies Python's
    unicodedata and DuckDB's utf8proc agree byte-for-byte (canonical
    composition of Latin diacritics is stable across Unicode versions).

    Spark shape: NFC has no Spark SQL built-in, so this is the
    sanctioned Arrow path — ONE vectorized pandas_udf stage (batched
    columnar transfer, no per-row Python dispatch), zero shuffles,
    map-only: the plan is Scan → Project → ArrowEvalPython → Project
    and scales linearly with executors."""
    import pandas as pd  # noqa: F401
    import unicodedata

    @F.pandas_udf("string")
    def nfc(col):
        return col.map(
            lambda s: None if s is None else unicodedata.normalize("NFC", s)
        )

    d = load(spark, sf_dir, "documents")
    dmg = F.replace(F.col("text"), F.lit("a"), F.lit("a\u0308"))
    out = d.select("doc_id", dmg.alias("d")).withColumn("n", nfc(F.col("d")))
    return out.select(
        "doc_id",
        (F.length("d") - F.length("n")).cast("bigint").alias("n_composed"),
        F.substring(F.md5("n"), 1, 16).alias("norm_hash"),
    )


@query(
    "q110_media_ahash_pairs",
    f"""
    SELECT doc_a, doc_b, hamming
    FROM '{_golden_path("q110_pairs.parquet")}'
    """,
)
def q110(spark, sf_dir):
    """Perceptual-hash near-duplicate detection over MEDIA assets —
    the image-side twin of the text LSH family: the same crawled image
    re-encoded or mildly retouched (planted by synth_image_corpus)
    must dedup even though its bytes differ, so exact fingerprints
    (q17) are blind to it. Signature = 64-bit aHash from an 8x8 mean
    grid; candidate pairs come from a banded equi-join (4x16-bit
    bands — pigeonhole-complete for hamming ≤ 3, sizing rule at
    multimodal.AHASH_*), verified with an exact in-row popcount.

    Spark shape: decode + box-filter grid is the ONE Arrow
    mapInPandas stage (the honest codec boundary); the signature is
    assembled JVM-side from the grid array, band keys explode from
    one in-row transform, and the self-join shuffles only
    (doc_id, ahash, band, key) rows — never pixels. Exactly the
    q22/q29 banded-bucket plan applied to a binary-media column; at
    10^12 assets the pair stage stays linear in corpus size for the
    same reason. Value-checked against the committed golden parquet
    (the same kernels + numpy single-node, tools/make_golden.py)."""
    from .operators.multimodal import (
        AHASH_BAND_BITS,
        AHASH_BANDS,
        AHASH_HAM_MAX,
        image_ahash,
    )
    from .synth import media_to_spark, synth_image_corpus

    media = media_to_spark(spark, synth_image_corpus(90, seed=7)).coalesce(4)
    sigs = (
        image_ahash(media)
        .filter(F.col("error").isNull())
        .select("doc_id", "ahash")
    )
    mask = (1 << AHASH_BAND_BITS) - 1
    bands = sigs.select(
        "doc_id",
        "ahash",
        F.expr(
            f"explode(transform(sequence(0, {AHASH_BANDS - 1}),"
            f" b -> struct(b AS band,"
            f" shiftright(ahash, b * {AHASH_BAND_BITS}) & {mask} AS key)))"
        ).alias("bk"),
    ).select("doc_id", "ahash", "bk.band", "bk.key")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.ahash").alias("ha"),
            F.col("b.ahash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.expr("bit_count(ha ^ hb)").cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= AHASH_HAM_MAX)
    )


# Continuation-stitch parameters: the overlap window (trailing K tokens
# of one page == leading K tokens of the next) and the per-key
# document-frequency cap. The cap is q18's stop-phrase guard aimed at
# TEMPLATE text: a boilerplate opening ("Seite 1 Anschrift ...") shared
# by 10^6 docs would otherwise fan the join out by df_head x df_tail
# on that one key; capping both sides bounds any key's pair output at
# CAP^2 and keeps the stitch stage linear in corpus size.
CONT_K = 3
CONT_DF_CAP = 64


@query(
    "q111_continuation_pairs",
    f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ), hk AS (
      SELECT doc_id, len(toks) AS n,
             ('0x' || substr(md5(array_to_string(toks[1:{CONT_K}], ' ')),
                             1, 12))::BIGINT AS head_h,
             ('0x' || substr(md5(array_to_string(toks[-{CONT_K}:], ' ')),
                             1, 12))::BIGINT AS tail_h
      FROM t WHERE len(toks) >= {2 * CONT_K}
    ), hok AS (
      SELECT head_h FROM hk GROUP BY head_h
      HAVING COUNT(*) <= {CONT_DF_CAP}
    ), tok2 AS (
      SELECT tail_h FROM hk GROUP BY tail_h
      HAVING COUNT(*) <= {CONT_DF_CAP}
    )
    SELECT a.doc_id AS prev_doc, b.doc_id AS next_doc,
           CAST(a.n AS BIGINT) AS prev_n, CAST(b.n AS BIGINT) AS next_n,
           CAST(a.n + b.n - {CONT_K} AS BIGINT) AS stitched_n
    FROM hk a JOIN tok2 ON a.tail_h = tok2.tail_h
              JOIN hok ON a.tail_h = hok.head_h
              JOIN hk b ON b.head_h = a.tail_h AND b.doc_id <> a.doc_id
    """,
)
def q111(spark, sf_dir):
    """Pagination-continuation stitching — the crawl-repair op that
    reunites articles split across pages: document A whose trailing
    {CONT_K}-token window equals document B's leading window is a
    (prev, next) stitch candidate, reported with both lengths and the
    stitched token count (overlap counted once). Split-page fragments
    poison training data twice (truncated context + duplicated
    overlap), so curation pipelines stitch or at least flag them.

    Spark shape: head/tail windows are hashed to 48-bit int64 IN-ROW
    (8-byte join keys — the token arrays never shuffle); both df-cap
    aggregations are map-side-partial COUNTs co-partitioned with the
    join key; the stitch itself is ONE equi-join on tail_h = head_h.
    Both engines join on the same md5-prefix hash, so parity holds by
    construction (a 48-bit cross-string collision would be the same
    collision on both sides). Linear at 10^12 docs: per-key fan-out is
    bounded at CAP^2 by the template guard (rule at CONT_DF_CAP)."""
    K = CONT_K
    d = load(spark, sf_dir, "documents")
    h12 = lambda c: F.expr(  # noqa: E731
        f"cast(conv(substring(md5({c}), 1, 12), 16, 10) as bigint)"
    )
    hk = (
        d.select(
            "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
        )
        .filter(F.size("toks") >= 2 * K)
        .select(
            "doc_id",
            F.size("toks").cast("bigint").alias("n"),
            h12(f"concat_ws(' ', slice(toks, 1, {K}))").alias("head_h"),
            h12(f"concat_ws(' ', slice(toks, -{K}, {K}))").alias("tail_h"),
        )
    )
    hok = (
        hk.groupBy("head_h").agg(F.count("*").alias("dfh"))
        .filter(F.col("dfh") <= CONT_DF_CAP)
        .select(F.col("head_h").alias("hh_ok"))
    )
    tok = (
        hk.groupBy("tail_h").agg(F.count("*").alias("dft"))
        .filter(F.col("dft") <= CONT_DF_CAP).select("tail_h")
    )
    a = (
        hk.join(tok, "tail_h")
        .join(hok, F.col("tail_h") == F.col("hh_ok"))
        .select(
            F.col("doc_id").alias("prev_doc"),
            F.col("n").alias("prev_n"),
            F.col("tail_h").alias("k"),
        )
    )
    b = hk.select(
        F.col("doc_id").alias("next_doc"),
        F.col("n").alias("next_n"),
        F.col("head_h").alias("k"),
    )
    return (
        a.join(b, "k")
        .filter(F.col("prev_doc") != F.col("next_doc"))
        .select(
            "prev_doc",
            "next_doc",
            "prev_n",
            "next_n",
            (F.col("prev_n") + F.col("next_n") - K).alias("stitched_n"),
        )
    )


# Leakage-free split thresholds on the 16-bit rep hash: val if
# h16 < 3277 (~5%), test if h16 < 6554 (~5%), else train (~90%). The
# SPLIT KEY is the near-dup component representative, not the doc:
# two near-duplicate documents hashing independently would straddle
# train/test ~9.5% of the time — benchmark leakage that survives
# whole-doc dedup audits because neither doc is dropped.
SPLIT_VAL_T = 3277
SPLIT_TEST_T = 6554


@query(
    "q112_leakage_free_split",
    _SH_TOK.replace("WITH ", "WITH RECURSIVE ", 1)
    + _SH_CC_CTES
    + f"""
    , comp AS (SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src),
    lab AS (
      SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
             len(regexp_split_to_array(trim(d.text), '\\s+')) AS nt,
             (c.doc_id IS NOT NULL) AS clustered,
             CASE
               WHEN ('0x' || substr(md5('split:' ||
                      COALESCE(c.component, CAST(d.doc_id AS VARCHAR))),
                      1, 4))::BIGINT < {SPLIT_VAL_T} THEN 'val'
               WHEN ('0x' || substr(md5('split:' ||
                      COALESCE(c.component, CAST(d.doc_id AS VARCHAR))),
                      1, 4))::BIGINT < {SPLIT_TEST_T} THEN 'test'
               ELSE 'train'
             END AS split
      FROM documents d LEFT JOIN comp c ON c.doc_id = CAST(d.doc_id AS VARCHAR)
    ),
    leak AS (
      SELECT COUNT(*) AS crossing
      FROM pairs p JOIN lab la ON la.doc_id = p.doc_a
                   JOIN lab lb ON lb.doc_id = p.doc_b
      WHERE la.split <> lb.split
    )
    SELECT split, COUNT(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN clustered THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clustered,
           CAST(MAX(leak.crossing) AS BIGINT) AS crossing_pairs
    FROM lab, leak GROUP BY split
    """,
)
def q112(spark, sf_dir):
    """Leakage-free train/val/test split — the assignment step every
    training pipeline runs LAST, with the guarantee whole-doc dedup
    cannot give: near-duplicate documents (q29's SimHash graph,
    resolved to clusters by q42's connected components) must land in
    the SAME split, or the held-out sets contain paraphrases of
    training documents. The split key is therefore the cluster
    representative (component min, identity for singletons), hashed
    with a salted md5 — deterministic, re-runnable, no RNG. The output
    reports per-split doc/token/clustered-doc counts plus the leakage
    AUDIT: crossing_pairs counts near-dup pairs whose endpoints landed
    in different splits, computed from the actual pair relation (not
    assumed) — 0 by construction, and the driver's hash gate verifies
    the audit itself agrees across engines.

    Spark shape: q42's contraction components (geometric edge
    shrinkage; see its docstring) + ONE broadcast-ready left join of
    the corpus against the components relation (components only hold
    docs WITH near-dup edges — a vanishing fraction at any scale) +
    a 3-row groupBy. The audit joins the pairs relation to the
    labelled corpus on doc_id twice — linear, co-partitioned. At
    10^12 docs the only corpus-scale stages are the simhash scan and
    the final split groupBy."""
    d = load(spark, sf_dir, "documents")
    # ONE execution of the banded self-join: materialize the pair
    # edges, then both the component resolution AND the crossing-pair
    # audit read the checkpointed relation (re-deriving q42 and q29
    # separately would run the dominant simhash+band stage twice)
    pairs = (
        QUERIES["q29_simhash_near_dups"](spark, sf_dir)
        .select("doc_a", "doc_b")
        .transform(materialize)
    )
    comp = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )
    lab = (
        d.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.size(F.split(F.trim("text"), r"\s+"))
            .cast("bigint")
            .alias("nt"),
        )
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            "nt",
            F.col("component").isNotNull().alias("clustered"),
            F.expr(
                "cast(conv(substring(md5('split:' ||"
                " coalesce(component, doc_id)), 1, 4), 16, 10) as bigint)"
            ).alias("h16"),
        )
        .withColumn(
            "split",
            F.when(F.col("h16") < SPLIT_VAL_T, F.lit("val"))
            .when(F.col("h16") < SPLIT_TEST_T, F.lit("test"))
            .otherwise(F.lit("train")),
        )
    )
    # the labelled corpus is read THREE times (final groupBy + both
    # sides of the crossing audit) — checkpoint it once; at scale this
    # materialization IS the job's output (the split assignment), so
    # it costs nothing extra
    lab = lab.transform(materialize)
    sp = lab.select("doc_id", "split")
    crossing = (
        pairs.join(
            sp.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "split", "sa"
            ),
            "doc_a",
        )
        .join(
            sp.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "split", "sb"
            ),
            "doc_b",
        )
        .filter(F.col("sa") != F.col("sb"))
        .agg(F.count("*").alias("crossing"))
    )
    return (
        lab.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
            F.sum(F.when(F.col("clustered"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clustered"),
        )
        .crossJoin(F.broadcast(crossing))
        .select(
            "split",
            "n_docs",
            "n_tokens",
            "n_clustered",
            F.col("crossing").cast("bigint").alias("crossing_pairs"),
        )
    )


@query(
    "q113_double_extraction",
    """
    WITH s AS (
      SELECT doc_id, 1 AS pos, 'html' AS kind, text FROM documents
      UNION ALL
      SELECT doc_id, 2, 'pdf', substr(text, 1, 40) FROM documents
      UNION ALL
      SELECT doc_id, 3, 'ocr',
             CASE WHEN doc_id % 5 = 2 THEN text
                  ELSE text || ' ocr-variante' END
      FROM documents
      UNION ALL
      SELECT doc_id, 4, 'text',
             CASE WHEN doc_id % 7 = 3 THEN substr(text, 1, 40)
                  ELSE 'einzigartig ' || CAST(doc_id AS VARCHAR) END
      FROM documents
    )
    SELECT a.kind AS kind_a, b.kind AS kind_b,
           COUNT(*) AS n_pairs,
           CAST(COUNT(DISTINCT a.doc_id) AS BIGINT) AS n_docs
    FROM s a JOIN s b
      ON a.doc_id = b.doc_id AND a.pos < b.pos AND a.text = b.text
    GROUP BY 1, 2
    """,
)
def q113(spark, sf_dir):
    """DOUBLE-EXTRACTION detection over interleaved spans — the
    extraction-QA check specific to the interleaved payload: when a
    crawler stores the same page as html AND a rendered pdf/ocr
    capture, a naive pipeline extracts the content twice into one
    document, silently doubling those tokens' training weight without
    ever tripping cross-doc dedup (q17/q18 compare documents, not
    spans within one). The report counts, per (kind_a, kind_b), the
    span pairs within a document carrying byte-identical text
    (violations planted deterministically by doc_id residue so the
    relational oracle derives them independently — the q54 pattern).

    Spark shape: the pairwise text comparison runs IN-ROW over each
    document's span array (a nested transform over index pairs —
    spans-per-doc is bounded and small, the q54 rule), so the
    corpus-scale stage is map-only and emits ONLY violations; the
    groupBy + distinct-doc count run on the violations-sized relation.
    The oracle replays it as a positional self-join after unnesting.
    At 10^12 docs nothing but the scan touches the corpus."""
    d = load(spark, sf_dir, "documents")
    ocr_text = F.when(
        F.col("doc_id") % 5 == 2, F.col("text")
    ).otherwise(F.concat(F.col("text"), F.lit(" ocr-variante")))
    txt_text = F.when(
        F.col("doc_id") % 7 == 3, F.substring("text", 1, 40)
    ).otherwise(
        F.concat(F.lit("einzigartig "), F.col("doc_id").cast("string"))
    )
    docs = d.select(
        "doc_id",
        F.array(
            F.struct(F.lit("html").alias("kind"), F.col("text").alias("text")),
            F.struct(
                F.lit("pdf").alias("kind"),
                F.substring("text", 1, 40).alias("text"),
            ),
            F.struct(F.lit("ocr").alias("kind"), ocr_text.alias("text")),
            F.struct(F.lit("text").alias("kind"), txt_text.alias("text")),
        ).alias("spans"),
    )
    dup_pairs = F.expr(
        "flatten(transform(sequence(1, size(spans) - 1),"
        " i -> filter(transform(sequence(i + 1, size(spans)),"
        "  j -> IF(spans[i-1].text = spans[j-1].text,"
        "   struct(spans[i-1].kind AS kind_a, spans[j-1].kind AS kind_b),"
        "   null)),"
        "  p -> p IS NOT NULL)))"
    )
    return (
        docs.select("doc_id", F.explode(dup_pairs).alias("p"))
        .select("doc_id", "p.kind_a", "p.kind_b")
        .groupBy("kind_a", "kind_b")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
    )


@query(
    "q114_incremental_near_dup",
    _SH_TOK
    + f"""
    , sig AS (SELECT doc_id, {_simhash_sql_expr()} AS simhash FROM th GROUP BY doc_id),
    {_sh_bands_sql()}
    SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS index_doc,
           bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) AS hamming
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key
    WHERE CAST(a.doc_id AS BIGINT) % 10 = 7
      AND CAST(b.doc_id AS BIGINT) % 10 <> 7
      AND bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) <= 3
    """,
)
def q114(spark, sf_dir):
    """INCREMENTAL near-dup maintenance — the production shape of LSH
    dedup once the index exists: a daily crawl batch (stand-in: docs
    with doc_id % 10 == 7) is checked against the standing corpus
    WITHOUT ever re-pairing the corpus against itself. q29/q20 build
    the index (the one-time O(corpus) pass); this query is the daily
    marginal cost: new-batch signatures are computed map-only, and the
    band join is NEW × INDEX only — the index×index quadrant, which
    dominates a full re-run, is never generated.

    Spark shape: both sides reuse the q29 band machinery (in-row
    SimHash, band keys from one posexplode). The new batch is a
    ~1/10th filter pushed to the scan; at production ratios (a day's
    crawl vs years of corpus) the new side's band table is KBs-to-GBs
    against a petabyte index and BROADCASTS, making the daily dedup a
    map-only pass over the index partition layout — no corpus shuffle
    at all. The broadcast is deliberately left to AQE's runtime size
    check (no forced hint): a genuinely large batch degrades to a
    co-partitioned hash join instead of blowing the broadcast limit.
    In production the index side's bands are STAGED once (the
    operators/staged_dedup.py layout) instead of recomputed."""
    bands = _sh_bands_df(spark, sf_dir)
    is_new = F.col("doc_id").cast("bigint") % 10 == 7
    new_b = bands.filter(is_new).select(
        F.col("doc_id").alias("new_doc"),
        F.col("simhash").alias("sig_n"),
        "band",
        "key",
    )
    idx_b = bands.filter(~is_new).select(
        F.col("doc_id").alias("index_doc"),
        F.col("simhash").alias("sig_i"),
        "band",
        "key",
    )
    ham = F.expr("bit_count(sig_n ^ sig_i)")
    return (
        idx_b.join(new_b, ["band", "key"])
        .select(
            "new_doc",
            "index_doc",
            ham.cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


@query(
    "q115_hard_negatives",
    _EMB_DIMS_CTE
    + f"""
    , {_SIGN_BUCKET_SQL.strip()},
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(CAST(q.v * c.v AS DECIMAL(28,12))) AS DOUBLE) AS dot
      FROM dims q JOIN dims c ON q.pos = c.pos
      WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.query_id, d.neighbor_id,
             eq.label AS label_q, ec.label AS label_n,
             (floor(d.dot / (nq.nrm * nc.nrm) * 1000000.0) / 1000000.0)
               AS cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY d.query_id
               ORDER BY (floor(d.dot / (nq.nrm * nc.nrm) * 1000000.0)
                         / 1000000.0) DESC,
                        d.neighbor_id ASC) AS rn
      FROM dots d
      JOIN norms nq ON nq.vec_id = d.query_id
      JOIN norms nc ON nc.vec_id = d.neighbor_id
      JOIN buckets bq ON bq.vec_id = d.query_id
      JOIN buckets bc ON bc.vec_id = d.neighbor_id
      JOIN embeddings eq ON eq.vec_id = d.query_id
      JOIN embeddings ec ON ec.vec_id = d.neighbor_id
      WHERE bq.bucket = bc.bucket AND eq.label <> ec.label
    )
    SELECT query_id, rn, neighbor_id,
           CAST(label_q AS BIGINT) AS label_q,
           CAST(label_n AS BIGINT) AS label_n, cos_sim
    FROM scored WHERE rn <= 3
    """,
)
def q115(spark, sf_dir):
    """HARD-NEGATIVE mining over the embedding corpus — the
    contrastive-training data op: for each anchor (the 5 query
    vectors), the most-similar vectors carrying a DIFFERENT label are
    exactly the negatives worth training against (easy negatives are
    already far away; near-misses move the model). Candidates come
    from the anchor's sign-LSH bucket (the q22 ANN restriction), so
    this is the mining pass as production runs it — over the index,
    not the corpus.

    Spark shape: the 5 anchors BROADCAST with arrays, norms, buckets
    and labels in-row; candidate filtering (same bucket, different
    label, different id) happens in the join condition so losers are
    dropped before any cosine is computed; the exact-decimal dot
    products run in-row (q21's fold); the top-3 window partitions on 5
    anchor ids over bucket-sized candidate sets. One corpus map pass +
    one anchors-sized window. The oracle replays it relationally with
    the dims explosion."""
    e = _load_embeddings(spark, sf_dir)
    sel = e.select(
        "vec_id",
        "embedding",
        F.col("label").cast("bigint").alias("label"),
        _sign_bucket_expr().alias("bucket"),
        _nrm_dec(F.col("embedding")).alias("nrm"),
    )
    q = sel.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("label_q"),
        F.col("bucket").alias("q_bucket"),
        F.col("nrm").alias("q_nrm"),
    )
    c = sel.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("label").alias("label_n"),
        "bucket",
        F.col("nrm").alias("c_nrm"),
    )
    cos = (
        F.floor(
            _dot_dec(F.col("q_emb"), F.col("c_emb"))
            / (F.col("q_nrm") * F.col("c_nrm"))
            * 1000000.0
        )
        / 1000000.0
    )
    scored = c.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("q_bucket"))
        & (F.col("neighbor_id") != F.col("query_id"))
        & (F.col("label_n") != F.col("label_q")),
    ).select("query_id", "neighbor_id", "label_q", "label_n", cos.alias("cos_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "rn", "neighbor_id", "label_q", "label_n", "cos_sim")
    )


# Coverage-curve thresholds sized to the fixture vocabulary (31 word
# types); production tokenizer sizing sweeps 2^13..2^17. The curve
# semantics are threshold-free — only the K list changes with corpus.
VOCAB_COVERAGE_KS = (1, 2, 4, 8, 16, 31)


@query(
    "q116_vocab_coverage",
    f"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ), vocab AS (
      SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok
    ), ranked AS (
      SELECT tok, c,
             ROW_NUMBER() OVER (ORDER BY c DESC, tok ASC) AS rnk,
             SUM(c) OVER (ORDER BY c DESC, tok ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(c) OVER () AS total
      FROM vocab
    ), ks AS (
      SELECT unnest(ARRAY[{", ".join(str(k) for k in VOCAB_COVERAGE_KS)}]) AS k
    )
    SELECT ks.k,
           CAST(MAX(r.rnk) AS BIGINT) AS n_types,
           (floor(CAST(MAX(r.cum) AS DOUBLE) / CAST(MAX(r.total) AS DOUBLE)
                  * 1000000.0) / 1000000.0) AS coverage
    FROM ks JOIN ranked r ON r.rnk <= ks.k
    GROUP BY ks.k
    """,
)
def q116(spark, sf_dir):
    """Vocabulary COVERAGE CURVE — the tokenizer-sizing analytic: what
    share of all token occurrences do the top-K most frequent types
    cover, for a ladder of K values. The knee of this curve is how a
    vocab size is chosen (and how OOV rates are predicted) before
    training a tokenizer; q51 reports the Zipf head itself, this
    reports the mass it covers.

    Spark shape (round-5 restatement — TakeOrdered-heap discipline,
    ZERO global windows): only rows ranked <= max(VOCAB_COVERAGE_KS)
    survive the K-ladder join, and cum at rank r depends only on rows
    ranked <= r — so the curve needs the top max(K) types, never a
    ranking of the full type relation. The token-count groupBy (ONE
    corpus-scale shuffle, map-side partials) feeds
    TakeOrderedAndProject over (c DESC, tok ASC) — a per-partition
    heap + max(K)-row driver merge, the q166 pattern — and rank +
    cumulative sum are then a triangular broadcast self-join over the
    <=max(K) surviving rows (no Window node anywhere). The old plan's
    row_number/running-sum window over EVERY whitespace type was the
    q226-class hazard: raw web-scale types (typos/URLs/numbers) reach
    10^8-10^9 rows, all on one sort partition. The global total comes
    from a shuffle-free scalar agg of per-doc token counts (identical
    to sum over the type relation by construction). Cum/total are
    exact int64; only the final floor6 ratio touches doubles."""
    d = load(spark, sf_dir, "documents")
    kmax = max(VOCAB_COVERAGE_KS)
    top = (
        d.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(kmax)
    )
    # NOT materialized: the heap must stay in the compiled plan (the
    # census + test_plan_shapes heap assertion read it there), and the
    # two self-join consumers share the token-agg shuffle via
    # ReusedExchange — only the <=kmax-row heap merge runs twice.
    total = F.broadcast(
        d.select(
            F.size(F.split(F.trim("text"), r"\s+")).alias("ntok")
        ).agg(F.sum("ntok").alias("total"))
    )
    a = top.select(F.col("tok").alias("a_tok"), F.col("c").alias("a_c"))
    b = top.select(F.col("tok").alias("b_tok"), F.col("c").alias("b_c"))
    ranked = (
        a.join(
            F.broadcast(b),
            (F.col("b_c") > F.col("a_c"))
            | (
                (F.col("b_c") == F.col("a_c"))
                & (F.col("b_tok") <= F.col("a_tok"))
            ),
        )
        .groupBy("a_tok")
        .agg(
            F.count("*").alias("rnk"),
            F.sum("b_c").alias("cum"),
        )
        .crossJoin(total)
    )
    ks = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(k) for k in VOCAB_COVERAGE_KS])
        ).alias("k")
    )
    return (
        ranked.join(F.broadcast(ks), F.col("rnk") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.max("rnk").cast("bigint").alias("n_types"),
            _floor6(
                F.max("cum").cast("double") / F.max("total").cast("double")
            ).alias("coverage"),
        )
    )


@query(
    "q117_embedding_quantize",
    _EMB_DIMS_CTE
    + """
    , rng AS (
      SELECT vec_id, MIN(v) AS mn, MAX(v) AS mx FROM dims GROUP BY vec_id
    ), q AS (
      SELECT d.vec_id, d.pos, d.v, r.mn, r.mx,
             CASE WHEN r.mx = r.mn THEN 0
                  ELSE CAST(least(floor((d.v - r.mn) / (r.mx - r.mn)
                                        * 255.0), 255.0) AS BIGINT)
             END AS code
      FROM dims d JOIN rng r USING (vec_id)
    ), err AS (
      SELECT vec_id, code,
             abs(v - (mn + CAST(code AS DOUBLE) * (mx - mn) / 255.0)) AS e
      FROM q
    )
    SELECT vec_id,
           CAST(SUM(code) AS BIGINT) AS code_sum,
           (floor(MAX(e) * 1000000.0) / 1000000.0) AS max_abs_err,
           (floor(CAST(SUM(CAST(e AS DECIMAL(28,12))) AS DOUBLE)
                  / COUNT(*) * 1000000.0) / 1000000.0) AS mean_abs_err
    FROM err GROUP BY vec_id
    """,
)
def q117(spark, sf_dir):
    """Scalar int8 QUANTIZATION of the embedding corpus with a
    reconstruction-error audit — the compression step every
    production vector index applies before the ANN family (q22/q33/
    q44) searches it: per vector, min-max scale each dimension to an
    8-bit code (floor, clamped — round() is HALF_UP vs HALF_EVEN
    across engines and never enters), dequantize, and report the code
    checksum plus max/mean absolute reconstruction error. The error
    columns are what decides whether int8 is safe for a given corpus
    or PQ/float16 is needed.

    Spark shape: entirely IN-ROW — min/max/codes/errors are
    higher-order expressions over the embedding array, zero explode,
    zero joins; the only shuffle-free map pass emits one row per
    vector. Mean error folds per-element |err| through exact
    DECIMAL(28,12) (the _fold_dec rule) so both engines sum
    identically regardless of order; the oracle replays it as the
    dims explosion + relational min/max/sum."""
    e = _load_embeddings(spark, sf_dir)
    # mn/mx and the double-cast array are hoisted to COLUMNS: lambda
    # bodies get no subexpression elimination, so referencing them
    # inline would rescan the array per element (O(d^2) per row)
    base = e.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("darr"),
    ).select(
        "vec_id",
        "darr",
        F.expr("array_min(darr)").alias("mn"),
        F.expr("array_max(darr)").alias("mx"),
    )
    codes = F.expr(
        "CASE WHEN mx = mn THEN transform(darr, x -> 0L) "
        "ELSE transform(darr, x -> cast(least(floor((x - mn)"
        " / (mx - mn) * 255.0), 255.0) as bigint)) END"
    )
    errs = F.expr(
        "zip_with(darr, codes,"
        " (x, c) -> abs(x - (mn + cast(c as double) * (mx - mn) / 255.0)))"
    )
    with_err = base.select(
        "vec_id", codes.alias("codes"), errs.alias("errs")
    )
    # null elements (the _fold_dec rule): folds skip them like the
    # oracle's SUM, empty survivor sets go NULL like SUM over no rows,
    # and the mean's denominator stays COUNT(*) = size(errs)
    code_sum = F.expr(
        "IF(size(filter(codes, c -> c IS NOT NULL)) = 0,"
        " CAST(NULL AS BIGINT),"
        " aggregate(filter(codes, c -> c IS NOT NULL), 0L,"
        "  (a, c) -> a + c))"
    )
    max_err = F.expr("array_max(errs)")
    mean_err = F.when(
        F.expr("size(filter(errs, x -> x IS NOT NULL))") == 0,
        F.lit(None).cast("double"),
    ).otherwise(
        _fold_dec(F.expr("transform(errs, x -> cast(x as decimal(28,12)))"))
        / F.expr("size(errs)")
    )
    return with_err.select(
        "vec_id",
        code_sum.alias("code_sum"),
        _floor6(max_err).alias("max_abs_err"),
        _floor6(mean_err).alias("mean_abs_err"),
    )


# Four checksum-correct German IBANs (generated once, verified
# mod-97 == 1; the first is the canonical DE89 example). Docs draw one
# by residue; every doc_id % 3 == 0 doc gets its last digit rotated,
# which ALWAYS breaks the checksum (a single-digit change shifts the
# rearranged number by c·10^6 — six numeric digits follow it after the
# DE+check block moves to the end — and c·10^k mod 97 ≠ 0: 97 is prime).
_IBANS = (
    "DE89370400440532013000",
    "DE74370511550532013777",
    "DE59370622660532014554",
    "DE44370733770532015331",
)


@query(
    "q118_iban_checksum",
    f"""
    WITH base AS (
      SELECT doc_id, source,
             ['{_IBANS[0]}', '{_IBANS[1]}',
              '{_IBANS[2]}', '{_IBANS[3]}'][CAST(doc_id % 4 AS INT) + 1]
               AS raw
      FROM documents
    ), ib AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 3 = 0
                  THEN substr(raw, 1, 21) ||
                       translate(substr(raw, 22, 1),
                                 '0123456789', '1234567890')
                  ELSE raw END AS iban
      FROM base
    ), re AS (
      SELECT doc_id, source, iban,
             substr(iban, 5) || substr(iban, 1, 4) AS r
      FROM ib
    ), m AS (
      SELECT source,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, length(r) + 1),
                   i -> CASE WHEN substr(r, i, 1) BETWEEN '0' AND '9'
                             THEN CAST(10 * 1000000
                                       + ascii(substr(r, i, 1)) - 48
                                       AS BIGINT)
                             ELSE CAST(100 * 1000000
                                       + ascii(substr(r, i, 1)) - 55
                                       AS BIGINT) END)),
               (a, e) -> (a * (e // 1000000) + e % 1000000) % 97) AS md
      FROM re
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN md = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_valid,
           CAST(SUM(CASE WHEN md = 1 THEN 0 ELSE 1 END) AS BIGINT)
             AS n_invalid
    FROM m GROUP BY source
    """,
)
def q118(spark, sf_dir):
    """ISO 13616 IBAN CHECKSUM validation — the step after q52's regex
    detection: a regex only proves a string is IBAN-SHAPED, and real
    German-invoice pipelines (the reference's domain) must separate
    OCR-mangled account numbers from genuine ones before redaction or
    payment extraction. The mod-97 check runs as an exact integer FOLD
    over the rearranged characters (digit → acc·10+v, letter →
    acc·100+v, everything mod 97 — the accumulator never exceeds
    97·100+35 so int64 is exact on both engines), with validity
    planted by doc_id residue (q54's pattern) so the oracle derives
    the expected counts independently.

    Spark shape: construction + checksum are ONE in-row higher-order
    expression (transform over character positions + aggregate fold) —
    zero explode, zero Python; the report is a sources-sized groupBy
    with map-side partials. One corpus map pass at any scale."""
    d = load(spark, sf_dir, "documents")
    arr = ", ".join(f"'{i}'" for i in _IBANS)
    raw = F.expr(f"array({arr})[CAST(doc_id % 4 AS INT)]")
    iban = F.when(
        F.col("doc_id") % 3 == 0,
        F.expr(
            "substring(raw, 1, 21) || translate(substring(raw, 22, 1),"
            " '0123456789', '1234567890')"
        ),
    ).otherwise(F.col("raw"))
    md = F.expr(
        "aggregate(transform(sequence(1, length(r)),"
        " i -> IF(substring(r, i, 1) BETWEEN '0' AND '9',"
        " CAST(10 * 1000000 + ascii(substring(r, i, 1)) - 48 AS BIGINT),"
        " CAST(100 * 1000000 + ascii(substring(r, i, 1)) - 55 AS BIGINT))),"
        " 0L, (a, e) -> (a * (e div 1000000) + e % 1000000) % 97)"
    )
    return (
        d.select("doc_id", "source", raw.alias("raw"))
        .select("doc_id", "source", iban.alias("iban"))
        .select(
            "source",
            F.expr("substring(iban, 5) || substring(iban, 1, 4)").alias("r"),
        )
        .select("source", md.alias("md"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("md") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_valid"),
            F.sum(F.when(F.col("md") == 1, 0).otherwise(1))
            .cast("bigint")
            .alias("n_invalid"),
        )
    )


@query(
    "q119_dupspan_clean",
    _DUPSPAN_CTES
    + f"""
    , kept AS (
      SELECT t.doc_id, t.tok, t.pos
      FROM tok t
      WHERE NOT EXISTS (
        SELECT 1 FROM hp
        WHERE hp.doc_id = t.doc_id
          AND t.pos >= hp.pos AND t.pos < hp.pos + {DUPSPAN_K})
    )
    SELECT d.doc_id,
           CAST(COALESCE(k.n, 0) AS BIGINT) AS kept_tokens,
           substr(md5(COALESCE(k.txt, '')), 1, 16) AS clean_hash
    FROM (SELECT DISTINCT doc_id FROM hp) d
    LEFT JOIN (
      SELECT doc_id, COUNT(*) AS n,
             string_agg(tok, ' ' ORDER BY pos) AS txt
      FROM kept GROUP BY doc_id
    ) k USING (doc_id)
    """,
)
def q119(spark, sf_dir):
    """Duplicate-span REMOVAL — the transform q107 reports on: for
    every document containing corpus-duplicated {DUPSPAN_K}-gram runs,
    emit the CLEANED text (all tokens inside any merged duplicate span
    dropped, order preserved) as a kept-token count + content hash.
    Together with q107 this is the full ExactSubstr pipeline: audit
    first, rewrite second, both oracle-checked.

    Spark shape: the posting/df machinery is the SHARED
    _dupspan_hot_starts (q107's plan); the removal itself joins each
    affected doc's start array back to ONE row per doc, merges the
    raw starts into maximal intervals in-row, and filters the token
    array with exists() over the MERGED spans — O(tokens x spans),
    never O(tokens x postings), and the token stream never explodes
    into a window or anti-join (the oracle's NOT EXISTS is replayed
    as an array predicate). Docs with no duplicated span are excluded
    by construction — at 10^12 docs the rewrite only ever touches the
    affected subset."""
    K = DUPSPAN_K
    d = load(spark, sf_dir, "documents")
    starts = _dupspan_hot_starts(d).select("doc_id", "ps")
    # merge the sorted raw starts into MAXIMAL [s, e) intervals in-row
    # (si = 1-based indices where a new merged span begins), so the
    # per-token exists() scans merged spans, not raw postings — a
    # fully-duplicated 100k-token doc has ONE interval, not ~100k
    # starts (O(tokens x merged_spans), never O(tokens x postings))
    si = F.expr(
        f"filter(sequence(1, size(ps)),"
        f" i -> i = 1 OR ps[i-1] - ps[i-2] >= {K})"
    )
    spans = F.expr(
        f"transform(sequence(1, size(si)), j -> struct("
        f" ps[si[j-1] - 1] AS s,"
        f" (IF(j < size(si), ps[si[j] - 2], element_at(ps, -1)) + {K})"
        f" AS e))"
    )
    kept = F.expr(
        "filter(transform(sequence(1, size(toks)),"
        " i -> struct(toks[i-1] AS tok, i AS pos)),"
        " t -> NOT exists(spans, sp -> t.pos >= sp.s AND t.pos < sp.e))"
    )
    return (
        _dupspan_toks(d)
        .join(starts, "doc_id")
        .withColumn("si", si)
        .withColumn("spans", spans)
        .select("doc_id", kept.alias("kept"))
        .select(
            "doc_id",
            F.size("kept").cast("bigint").alias("kept_tokens"),
            F.substring(
                F.md5(F.expr("concat_ws(' ', transform(kept, t -> t.tok))")),
                1,
                16,
            ).alias("clean_hash"),
        )
    )


# =====================================================================
# Product quantization, tokenizer-training, retrieval, script audit
# =====================================================================

# Product quantization (PQ): split the D=64-dim vector into PQ_M
# subspaces of PQ_SUBDIM dims; each subspace quantizes independently to
# one of PQ_K sub-centroids, so a vector compresses to PQ_M 2-bit codes
# (here 8 codes -> one int64). Search is ADC (asymmetric distance
# computation): the query stays full-precision, each candidate
# contributes sum over subspaces of d2(query_sub, codebook[sub][code]).
# Production sizing: PQ_K=256 (one byte per subspace) and the codebook
# comes from k-means (q105's update step run per subspace); 4 here keeps
# the oracle's argmin relation small. Seeds = vectors 0..PQ_K-1, the
# q33 convention.
PQ_M = 8
PQ_SUBDIM = 8
PQ_K = 4
PQ_TOP_K = 5


def _pq_d2_sql(vec: str, cent: str) -> str:
    """Exact decimal(38,12) squared distance between a float-array
    expression and a double-array expression (Spark SQL string) —
    _cent_dist_arr's arithmetic (double diff -> decimal(28,12) product
    -> decimal(38,12) fold) WITHOUT the final double cast, so callers
    can keep comparing/summing exactly."""
    return (
        f"aggregate(filter(zip_with({vec}, {cent},"
        " (x, y) -> cast((cast(x as double) - y) * (cast(x as double) - y)"
        " as decimal(28,12))), p -> p is not null),"
        " cast(0 as decimal(38,12)),"
        " (a, b) -> cast(a + b as decimal(38,12)))"
    )


def _collect_vec_rows(emb, n: int):
    """Sorted (vec_id, [floats]) for vec_id < n — the dimension-table
    collect behind every inlined centroid/codebook literal (q33's
    pattern). Collect ONCE and slice for nested needs: PQ seeds are a
    prefix of the IVF centroids (PQ_K <= IVF_N_CELLS)."""
    return sorted(
        (int(r.vec_id), [float(v) for v in r.embedding])
        for r in emb.filter(F.col("vec_id") < n)
        .select("vec_id", "embedding")
        .collect()
    )


def _pq_codebook_literal(seed_rows) -> str:
    """3-D double literal `pqc[m][k][j]` (1-based element_at indexing)
    from the PQ_K seed rows; doubles round-trip exactly via repr()."""
    return (
        "array("
        + ",".join(
            "array("
            + ",".join(
                "array("
                + ",".join(
                    f"cast('{v!r}' as double)"
                    for v in vec[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
                )
                + ")"
                for _, vec in seed_rows
            )
            + ")"
            for m in range(PQ_M)
        )
        + ")"
    )


def _pq_codes_expr(pqc: str):
    """Per-subspace argmin codes for the row's `embedding` column —
    exact-decimal comparison with k tiebreak, matching the oracles'
    ROW_NUMBER (d2 ASC, k ASC). One map-only expression."""
    return F.expr(
        f"transform(sequence(0, {PQ_M - 1}), m -> element_at(array_sort("
        f"transform(sequence(0, {PQ_K - 1}), k -> struct("
        + _pq_d2_sql(
            f"slice(embedding, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})",
            f"element_at(element_at({pqc}, m + 1), k + 1)",
        )
        + " AS d2, k AS code))), 1).code)"
    )


def _pq_adc_expr(pqc: str):
    """ADC distance of the row's full-precision `q_emb` to the PQ
    `codes` column: sum over subspaces of the exact-decimal distance
    to the codebook entry the code names. Numerically identical to a
    precomputed LUT probe (every value is the same exact decimal)."""
    return F.expr(
        f"aggregate(transform(sequence(0, {PQ_M - 1}), m -> "
        + _pq_d2_sql(
            f"slice(q_emb, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})",
            f"element_at(element_at({pqc}, m + 1),"
            " element_at(codes, m + 1) + 1)",
        )
        + "), cast(0 as decimal(38,12)),"
        " (a, b) -> cast(a + b as decimal(38,12)))"
    )


@query(
    "q120_pq_adc_topk",
    _EMB_DIMS_CTE
    + f"""
    , sub AS (
      SELECT vec_id, CAST((pos - 1) // {PQ_SUBDIM} AS BIGINT) AS m,
             ((pos - 1) % {PQ_SUBDIM}) AS j, v
      FROM dims
    ), cent AS (
      SELECT vec_id AS k, m, j, v FROM sub WHERE vec_id < {PQ_K}
    ), cdist AS (
      SELECT s.vec_id, s.m, c.k,
             SUM(CAST((s.v - c.v) * (s.v - c.v) AS DECIMAL(28,12))) AS d2
      FROM sub s JOIN cent c ON c.m = s.m AND c.j = s.j
      WHERE s.vec_id >= {PQ_K}
      GROUP BY 1, 2, 3
    ), codes AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT vec_id, m, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2 ASC, k ASC) AS rn
        FROM cdist) WHERE rn = 1
    ), packed AS (
      SELECT vec_id,
             CAST(SUM(code * CAST(pow(4, m) AS BIGINT)) AS BIGINT)
               AS code_packed
      FROM codes GROUP BY vec_id
    ), adc AS (
      SELECT cd.vec_id AS query_id, co.vec_id AS neighbor_id,
             SUM(cd.d2) AS adc_dec
      FROM codes co JOIN cdist cd ON cd.m = co.m AND cd.k = co.code
      WHERE cd.vec_id BETWEEN {PQ_K} AND {PQ_K + 4}
        AND co.vec_id <> cd.vec_id
      GROUP BY 1, 2
    ), ranked AS (
      SELECT query_id, neighbor_id, adc_dec,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dec ASC, neighbor_id ASC) AS rn
      FROM adc
    )
    SELECT r.query_id, r.neighbor_id, p.code_packed,
           (floor(CAST(r.adc_dec AS DOUBLE) * 1000000.0) / 1000000.0)
             AS approx_d2,
           rn
    FROM ranked r JOIN packed p ON p.vec_id = r.neighbor_id
    WHERE rn <= {PQ_TOP_K}
    """,
)
def q120(spark, sf_dir):
    """Product-quantization codes + ADC top-k search — the compression
    tier between q117's scalar int8 and q44's IVF: each corpus vector
    collapses to PQ_M 2-bit codes (one int64), and search never touches
    the original vectors, only sum over subspaces of the query's
    distance to the CODEBOOK entry the candidate's code names (the ADC
    lookup table, materialized here as the in-row subspace-distance
    expression — bit-identical to a precomputed LUT because every value
    is an exact decimal).

    Spark shape: the codebook (PQ_K seed vectors, a dimension-table
    collect like q33's centroids) is inlined as a 3-D double literal;
    code assignment is ONE map-only pass (per-subspace argmin via
    array_sort over (d2, k) structs — exact decimal comparison, k
    tiebreak, matching the oracle's ROW_NUMBER); search cross-joins the
    PQ_TOP_K+1 broadcast queries against the codes relation and ranks
    with a per-query window. At 10^12 rows the codes relation is ~64x
    smaller than the vectors — the whole point of PQ — and would be
    staged bucketed like `operators/staged_ivf.py` stages q44's cells;
    candidate generation composes with the IVF cell filter (IVF-PQ)."""
    e = _load_embeddings(spark, sf_dir)
    pqc = _pq_codebook_literal(_collect_vec_rows(e, PQ_K))
    codes = _pq_codes_expr(pqc)
    packed = F.expr(
        f"aggregate(sequence(0, {PQ_M - 1}), 0L, (a, m) -> a +"
        " cast(element_at(codes, m + 1) as bigint)"
        " * cast(pow(4, m) as bigint))"
    )
    corpus = (
        e.filter(F.col("vec_id") >= PQ_K)
        .select(F.col("vec_id").alias("neighbor_id"), codes.alias("codes"))
        .select("neighbor_id", "codes", packed.alias("code_packed"))
    )
    qdf = (
        e.filter(
            (F.col("vec_id") >= PQ_K) & (F.col("vec_id") <= PQ_K + 4)
        ).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dec").asc(), F.col("neighbor_id").asc()
    )
    return (
        corpus.crossJoin(F.broadcast(qdf))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc_dec", _pq_adc_expr(pqc))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PQ_TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "code_packed",
            _floor6(F.col("adc_dec").cast("double")).alias("approx_d2"),
            "rn",
        )
    )


# One BPE merge iteration: count adjacent-symbol pairs over the word
# frequency table and surface the top candidates — the inner loop of
# tokenizer training (the highest-count pair becomes the next merge
# rule; production repeats this with the merged symbol respelled into
# the vocabulary, which only ever touches the vocab relation again).
BPE_TOP_PAIRS = 20


@query(
    "q121_bpe_pair_merge",
    f"""
    WITH words AS (
      SELECT unnest(string_split(lower(regexp_replace(
               text, '[^a-zA-Z ]', ' ', 'g')), ' ')) AS w
      FROM documents
    ), wc AS (
      SELECT w, COUNT(*) AS cnt FROM words
      WHERE w <> '' AND length(w) >= 2 GROUP BY w
    ), pos AS (
      SELECT w, cnt,
             unnest(generate_series(1, length(w) - 1)) AS i
      FROM wc
    ), pc AS (
      SELECT substr(w, CAST(i AS INT), 1) AS lch,
             substr(w, CAST(i AS INT) + 1, 1) AS rch,
             SUM(cnt) AS c
      FROM pos GROUP BY 1, 2
    )
    SELECT lch, rch, CAST(c AS BIGINT) AS pair_count
    FROM pc
    ORDER BY pair_count DESC, lch ASC, rch ASC
    LIMIT {BPE_TOP_PAIRS}
    """,
)
def q121(spark, sf_dir):
    """BPE pair-merge counting — ONE iteration of byte-pair-encoding
    tokenizer training: corpus -> word-frequency table -> adjacent
    character-pair counts weighted by word frequency -> top
    BPE_TOP_PAIRS merge candidates (count desc, pair asc tiebreak).

    Spark shape: the ONLY corpus-scale stage is the word-count groupBy
    (map-side partial aggregation collapses each task to its local
    vocabulary before the shuffle — the classic wordcount reduction);
    everything after runs on the VOCAB relation (pair fan-out is
    in-row `transform(sequence(...))` over distinct words, bounded by
    word length, then a vocab-sized pair groupBy and a TakeOrdered
    heap — no corpus re-scan, no window). This is why BPE training is
    feasible at 10^12 docs: iteration i>0 respells the vocab table
    (vocab-sized work) and never touches the corpus again."""
    d = load(spark, sf_dir, "documents")
    toks = F.expr(
        "filter(split(lower(regexp_replace(text, '[^a-zA-Z ]', ' ')), ' '),"
        " w -> w <> '' AND length(w) >= 2)"
    )
    wc = (
        d.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    pairs = wc.select(
        "cnt",
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1), i -> struct("
                "substring(w, i, 1) AS lch, substring(w, i + 1, 1) AS rch))"
            )
        ).alias("p"),
    )
    return (
        pairs.groupBy("p.lch", "p.rch")
        .agg(F.sum("cnt").cast("bigint").alias("pair_count"))
        .orderBy(
            F.desc("pair_count"), F.asc("lch"), F.asc("rch")
        )
        .limit(BPE_TOP_PAIRS)
    )


# BM25 retrieval with the log-free rational idf variant
# (N - df + 0.5)/(df + 0.5): ln() is not correctly-rounded on either
# engine, so the classic formulation cannot promise bit equality —
# the rational variant ranks identically for single-term queries and
# near-identically for short ones, and every operand here stays an
# exact int64 until ONE double division per term (correctly rounded,
# engine-identical). k1 = 6/5, b = 3/4 are folded into integers:
#   score_t = 22*T*tf*(2N-2df+1) / ((2df+1)*(10*T*tf + 3*T + 9*dl*N))
# where T = corpus tokens, N = docs, dl = doc tokens. int64 headroom:
# num <= 22*T*tf*(2N+1) — fine through sf1 (~3e14); past that the
# numerator moves to DECIMAL(38,0)/HUGEINT.
BM25_TERMS = ("vector", "join", "customer")
BM25_TOP_K = 10


def _bm25_scored(d: DataFrame) -> DataFrame:
    """Per-doc BM25 relation (doc_id, dl, score_ppm) for BM25_TERMS —
    the scoring backbone shared by q122 (ranked search) and q137 (RRF
    hybrid fusion): per-doc (dl, tf_t) entirely IN-ROW, ONE single-row
    stats agg broadcast back, rational-idf scoring again in-row."""
    toks = F.expr(
        "filter(split(lower(regexp_replace(text, '[^a-zA-Z ]', ' ')), ' '),"
        " w -> w <> '')"
    )
    per = d.select(F.col("doc_id"), toks.alias("toks")).select(
        "doc_id",
        F.size("toks").cast("bigint").alias("dl"),
        *[
            F.expr(f"cast(size(filter(toks, w -> w = '{t}')) as bigint)")
            .alias(f"tf{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    st = per.agg(
        F.sum("dl").cast("bigint").alias("t_tok"),
        F.count("*").cast("bigint").alias("n_docs"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("bigint"))
            .cast("bigint")
            .alias(f"df{i}")
            for i in range(len(BM25_TERMS))
        ],
    )

    def contrib(i: int):
        tf, df = F.col(f"tf{i}"), F.col(f"df{i}")
        num = (
            F.lit(22) * F.col("t_tok") * tf
            * (F.lit(2) * F.col("n_docs") - F.lit(2) * df + F.lit(1))
        )
        den = (F.lit(2) * df + F.lit(1)) * (
            F.lit(10) * F.col("t_tok") * tf
            + F.lit(3) * F.col("t_tok")
            + F.lit(9) * F.col("dl") * F.col("n_docs")
        )
        return F.floor(
            num.cast("double") / den.cast("double") * 1000000.0
        ).cast("bigint")

    return per.crossJoin(F.broadcast(st)).select(
        "doc_id",
        "dl",
        (contrib(0) + contrib(1) + contrib(2)).alias("score_ppm"),
    )


# Shared oracle CTE chain producing sc(doc_id, dl, score_ppm) — the
# SQL twin of _bm25_scored, reused by q122 and q137.
_BM25_SCORED_SQL = f"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split(lower(regexp_replace(
               text, '[^a-zA-Z ]', ' ', 'g')), ' '), w -> w <> '') AS toks
      FROM documents
    ), per AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS dl,
             CAST(len(list_filter(toks, w -> w = '{BM25_TERMS[0]}'))
                  AS BIGINT) AS tf0,
             CAST(len(list_filter(toks, w -> w = '{BM25_TERMS[1]}'))
                  AS BIGINT) AS tf1,
             CAST(len(list_filter(toks, w -> w = '{BM25_TERMS[2]}'))
                  AS BIGINT) AS tf2
      FROM tk
    ), st AS (
      SELECT CAST(SUM(dl) AS BIGINT) AS t_tok,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
             CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
             CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
      FROM per
    ), sc AS (
      SELECT doc_id, dl,
        CAST(floor(CAST(22 * t_tok * tf0 * (2 * n_docs - 2 * df0 + 1)
                        AS DOUBLE)
             / CAST((2 * df0 + 1)
                    * (10 * t_tok * tf0 + 3 * t_tok + 9 * dl * n_docs)
                    AS DOUBLE) * 1000000.0) AS BIGINT)
        + CAST(floor(CAST(22 * t_tok * tf1 * (2 * n_docs - 2 * df1 + 1)
                          AS DOUBLE)
             / CAST((2 * df1 + 1)
                    * (10 * t_tok * tf1 + 3 * t_tok + 9 * dl * n_docs)
                    AS DOUBLE) * 1000000.0) AS BIGINT)
        + CAST(floor(CAST(22 * t_tok * tf2 * (2 * n_docs - 2 * df2 + 1)
                          AS DOUBLE)
             / CAST((2 * df2 + 1)
                    * (10 * t_tok * tf2 + 3 * t_tok + 9 * dl * n_docs)
                    AS DOUBLE) * 1000000.0) AS BIGINT) AS score_ppm
      FROM per, st
    )
"""


@query(
    "q122_bm25_search",
    _BM25_SCORED_SQL
    + f"""
    SELECT doc_id, dl, score_ppm, rn AS rank FROM (
      SELECT doc_id, dl, score_ppm,
             ROW_NUMBER() OVER (ORDER BY score_ppm DESC, doc_id ASC) AS rn
      FROM sc)
    WHERE rn <= {BM25_TOP_K}
    """,
)
def q122(spark, sf_dir):
    """BM25 full-text retrieval over the corpus for a fixed term set —
    the ranked-search operator a curation/inspection UI runs against
    the document store (and the scoring backbone of retrieval-augmented
    sampling). Uses the log-free rational idf variant so every score is
    bit-identical cross-engine (see BM25_TERMS comment).

    Spark shape: pass 1 computes per-doc (dl, tf_t) entirely IN-ROW
    (one map over the corpus); ONE single-row hash agg derives
    (T, N, df_t); the stats row broadcast-cross-joins back and scoring
    is again in-row; top-k is TakeOrderedAndProject (per-partition
    heaps + driver merge — NO global sort, NO single-partition window;
    the rank column is assigned by a window over the already-collected
    BM25_TOP_K rows). Two corpus map passes, one scalar agg — at
    10^12 docs the dominant cost is the corpus scan itself; a real
    deployment persists pass 1 or reads tf from an inverted index
    (q18's postings layout)."""
    scored = _bm25_scored(load(spark, sf_dir, "documents"))
    top = scored.orderBy(F.desc("score_ppm"), F.asc("doc_id")).limit(
        BM25_TOP_K
    )
    w = Window.orderBy(F.desc("score_ppm"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w))


# Homoglyph planting for q123: deterministic Latin->Cyrillic confusable
# substitution on every doc_id % 7 == 0 document — the mixed-script
# spoofing pattern (phishing/SEO spam) a web-corpus QC pass must flag.
# Planted by BOTH engines with the same translate(), q100's discipline:
# the regression target is the detection algebra, not the damage.
_HOMOGLYPH_LAT = "aeopcx"
_HOMOGLYPH_CYR = "аеорсх"


@query(
    "q123_script_mix_audit",
    f"""
    WITH planted AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 0
                  THEN translate(text, '{_HOMOGLYPH_LAT}',
                                 '{_HOMOGLYPH_CYR}')
                  ELSE text END AS t
      FROM documents
    ), scored AS (
      SELECT source,
             length(t) - length(regexp_replace(
               t, '[а-яё]', '', 'g')) AS n_cyr,
             length(t) - length(regexp_replace(
               t, '[a-z]', '', 'g')) AS n_lat
      FROM planted
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_cyr > 0 AND n_lat > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_mixed,
           CAST(SUM(n_cyr) AS BIGINT) AS cyr_chars,
           CASE WHEN SUM(n_lat + n_cyr) = 0 THEN 0
                ELSE CAST(floor(CAST(SUM(n_cyr) AS DOUBLE) * 1000000.0
                          / CAST(SUM(n_lat + n_cyr) AS DOUBLE)) AS BIGINT)
           END AS cyr_ppm
    FROM scored GROUP BY source
    """,
)
def q123(spark, sf_dir):
    """Unicode-script mix audit — per-source counts of documents whose
    letters span BOTH Latin and Cyrillic (the homoglyph-spoofing /
    encoding-damage signal: 'а' for 'a', 'о' for 'o' survive
    every ASCII-blind filter), plus the Cyrillic letter share in exact
    ppm. Damage is PLANTED deterministically (doc_id % 7) by the same
    translate() on both engines — q100's mojibake discipline.

    Spark shape: script counters are pure JVM regexp_replace/length
    codegen (one map pass, zero Python), the report is one sources-
    sized hash agg with map-side partials. At 10^12 docs this is a
    free rider on any existing corpus scan (q15's stats pass)."""
    d = load(spark, sf_dir, "documents")
    t = F.when(
        F.col("doc_id") % 7 == 0,
        F.translate("text", _HOMOGLYPH_LAT, _HOMOGLYPH_CYR),
    ).otherwise(F.col("text"))
    scored = d.select("source", t.alias("t")).select(
        "source",
        (
            F.length("t")
            - F.length(F.regexp_replace("t", "[а-яё]", ""))
        ).alias("n_cyr"),
        (
            F.length("t") - F.length(F.regexp_replace("t", "[a-z]", ""))
        ).alias("n_lat"),
    )
    tot = F.sum(F.col("n_lat") + F.col("n_cyr"))
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.when((F.col("n_cyr") > 0) & (F.col("n_lat") > 0), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_mixed"),
        F.sum("n_cyr").cast("bigint").alias("cyr_chars"),
        F.when(tot == 0, F.lit(0))
        .otherwise(
            F.floor(
                F.sum("n_cyr").cast("double")
                * 1000000.0
                / tot.cast("double")
            )
        )
        .cast("bigint")
        .alias("cyr_ppm"),
    )


def _ivfpq_assign_probes(spark, sf_dir):
    """The IVF-PQ index relations, shared with the staged 100 TB path
    (`operators/staged_pq.py`): `assign` — every corpus vector tagged
    with its IVF cell AND its PQ codes in ONE map-only pass — and
    `probes` — each query exploded to its IVF_NPROBE cells, carrying
    the full-precision q_emb for ADC. One definition so the inline
    q124 and the staged layout can never disagree. Returns
    (assign, probes, pqc_literal)."""
    e = _load_embeddings(spark, sf_dir)
    # ONE collect: the PQ seeds (vec_id < PQ_K) are a prefix of the
    # IVF centroids, so the codebook slices the centroid rows instead
    # of launching a second driver job (review r02 finding)
    cent_rows = _collect_vec_rows(e, IVF_N_CELLS)
    pqc = _pq_codebook_literal(
        [(c, v) for c, v in cent_rows if c < PQ_K]
    )
    dist_arr = _cent_dist_arr(cent_rows)
    corpus = e.filter(F.col("vec_id") >= IVF_N_CELLS)
    assign = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.element_at(dist_arr, 1).getField("cell").alias("cell"),
        _pq_codes_expr(pqc).alias("codes"),
    )
    probes = (
        corpus.filter(F.col("vec_id") <= IVF_N_CELLS + 4)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.explode(
                F.transform(
                    F.slice(dist_arr, 1, IVF_NPROBE),
                    lambda s: s.getField("cell"),
                )
            ).alias("cell"),
        )
    )
    return assign, probes, pqc


def _ivfpq_search(assign, probes, pqc: str):
    """Probe-cell broadcast join + ADC ranking — identical downstream
    for the inline (q124) and staged (`operators/staged_pq.py`) index
    relations, `_ivf_search`'s shape with ADC in place of cosine."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dec").asc(), F.col("neighbor_id").asc()
    )
    return (
        assign.join(
            F.broadcast(probes),
            (assign["cell"] == probes["cell"])
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .withColumn("adc_dec", _pq_adc_expr(pqc))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= IVF_TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            _floor6(F.col("adc_dec").cast("double")).alias("approx_d2"),
            "rn",
        )
    )


@query(
    "q124_ivfpq_search",
    _EMB_DIMS_CTE
    + f"""
    , cents AS (
      SELECT vec_id AS cell, pos, v FROM dims WHERE vec_id < {IVF_N_CELLS}
    ), cdists AS (
      -- DOUBLE cast BEFORE ranking, as in q33/q44: the Spark side
      -- compares _cent_dist_arr's double-cast d2, so the oracle must
      -- rank the same rounded value or a sub-ulp decimal difference
      -- could pick a different cell (review r02 finding)
      SELECT d.vec_id, c.cell,
             CAST(SUM(CAST((d.v - c.v) * (d.v - c.v) AS DECIMAL(28,12)))
                  AS DOUBLE) AS d2
      FROM dims d JOIN cents c ON c.pos = d.pos
      WHERE d.vec_id >= {IVF_N_CELLS}
      GROUP BY 1, 2
    ), cranked AS (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY d2 ASC, cell ASC) AS rn
      FROM cdists
    ), assign AS (SELECT vec_id, cell FROM cranked WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, cell FROM cranked
      WHERE rn <= {IVF_NPROBE}
        AND vec_id BETWEEN {IVF_N_CELLS} AND {IVF_N_CELLS + 4}
    ), sub AS (
      SELECT vec_id, CAST((pos - 1) // {PQ_SUBDIM} AS BIGINT) AS m,
             ((pos - 1) % {PQ_SUBDIM}) AS j, v
      FROM dims
    ), pcent AS (
      SELECT vec_id AS k, m, j, v FROM sub WHERE vec_id < {PQ_K}
    ), pdist AS (
      SELECT s.vec_id, s.m, c.k,
             SUM(CAST((s.v - c.v) * (s.v - c.v) AS DECIMAL(28,12))) AS d2
      FROM sub s JOIN pcent c ON c.m = s.m AND c.j = s.j
      WHERE s.vec_id >= {IVF_N_CELLS}
      GROUP BY 1, 2, 3
    ), codes AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT vec_id, m, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2 ASC, k ASC) AS rn
        FROM pdist) WHERE rn = 1
    ), cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assign a ON a.cell = p.cell
                                 AND a.vec_id <> p.query_id
    ), adc AS (
      SELECT c.query_id, c.neighbor_id, SUM(pd.d2) AS adc_dec
      FROM cand c
      JOIN codes co ON co.vec_id = c.neighbor_id
      JOIN pdist pd ON pd.vec_id = c.query_id AND pd.m = co.m
                    AND pd.k = co.code
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id,
           (floor(CAST(adc_dec AS DOUBLE) * 1000000.0) / 1000000.0)
             AS approx_d2,
           rn
    FROM (SELECT query_id, neighbor_id, adc_dec,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY adc_dec ASC,
                                             neighbor_id ASC) AS rn
          FROM adc)
    WHERE rn <= {IVF_TOP_K}
    """,
)
def q124(spark, sf_dir):
    """IVF-PQ search — the production ANN composition: the IVF coarse
    quantizer (q33/q44) restricts candidates to the query's IVF_NPROBE
    cells, and within the probed cells ranking runs on PQ codes via
    ADC (q120) — the searcher touches neither the full corpus nor any
    full-precision corpus vector. This is the layout every billion-
    scale vector index (FAISS IVFPQ et al.) deploys.

    Spark shape: ONE map-only pass computes BOTH the cell (argmin over
    the inlined IVF centroid literal) and the PQ codes (per-subspace
    argmin over the inlined codebook) per corpus vector; probes
    broadcast; the candidate join is cell-equi (bucket-prunable when
    staged — `operators/staged_ivf.py`'s layout carries the codes as
    just another column); ADC + per-query window as q120. The
    full-precision vector never leaves the scan."""
    assign, probes, pqc = _ivfpq_assign_probes(spark, sf_dir)
    return _ivfpq_search(assign, probes, pqc)


@query(
    "q125_flesch_readability",
    f"""
    WITH t AS (
      SELECT doc_id, {_sent_text()} AS txt FROM documents
    ), p AS (
      SELECT doc_id, {_sent_protect_sql('txt')} AS clean FROM t
    ), c AS (
      SELECT doc_id,
             greatest(length(clean)
               - length(regexp_replace(clean, '[.!?]', '', 'g')),
               1) AS s,
             regexp_replace(lower(clean), '[^a-zäöüß ]', ' ', 'g')
               AS letters
      FROM p
    ), m AS (
      SELECT doc_id, s,
             greatest(len(list_filter(string_split(letters, ' '),
                                      w -> w <> '')), 1) AS w,
             length(regexp_replace(letters, '[aeiouyäöü]+', '#', 'g'))
               - length(regexp_replace(letters, '[aeiouyäöü]+', '', 'g'))
               AS y
      FROM c
    )
    , f AS (
      SELECT doc_id, s, w, y,
             CAST(floor((CAST(180000 AS DOUBLE)
                         - CAST(1000 * w AS DOUBLE) / CAST(s AS DOUBLE))
                        - CAST(58500 * y AS DOUBLE) / CAST(w AS DOUBLE))
                  AS BIGINT) AS flesch_e3
      FROM m
    )
    SELECT doc_id, CAST(s AS BIGINT) AS n_sentences,
           CAST(w AS BIGINT) AS n_words, CAST(y AS BIGINT) AS n_syllables,
           flesch_e3,
           CASE WHEN flesch_e3 >= 60000 THEN 'leicht'
                WHEN flesch_e3 >= 30000 THEN 'mittel'
                ELSE 'schwer' END AS band
    FROM f
    """,
)
def q125(spark, sf_dir):
    """Flesch reading-ease, Amstad's German variant (FRE_de = 180 -
    ASL - 58.5*ASW) — the classic surface-readability dial curation
    stacks use alongside q92's LM score and q47's repetition metrics.
    Sentences are counted with q94's abbreviation protection (a 'Dr.'
    must not end a sentence and silently inflate readability);
    syllables are approximated by maximal vowel runs (the standard
    dictionary-free estimator), counted via the replace-runs length
    trick. The score is floor'd at e3 with every division a single
    correctly-rounded double op in the same tree shape on both
    engines.

    Spark shape: map-only — construction, protection rewrites, and
    all counters fuse into one WholeStageCodegen pass; zero shuffles,
    zero Python (q94's plan, one more expression deep)."""
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.expr(_sent_text()).alias("txt"))
    clean = F.col("txt")
    for pat, repl in _SENT_ABBREV:
        clean = F.regexp_replace(clean, pat, repl)
    p = t.select("doc_id", clean.alias("clean"))
    c = p.select(
        "doc_id",
        F.greatest(
            F.length("clean")
            - F.length(F.regexp_replace("clean", r"[.!?]", "")),
            F.lit(1),
        ).alias("s"),
        F.regexp_replace(
            F.lower(F.col("clean")), "[^a-zäöüß ]", " "
        ).alias("letters"),
    )
    m = c.select(
        "doc_id",
        "s",
        F.greatest(
            F.expr("size(filter(split(letters, ' '), w -> w <> ''))"),
            F.lit(1),
        ).alias("w"),
        (
            F.length(F.regexp_replace("letters", "[aeiouyäöü]+", "#"))
            - F.length(F.regexp_replace("letters", "[aeiouyäöü]+", ""))
        ).alias("y"),
    )
    flesch = F.floor(
        (
            F.lit(180000).cast("double")
            - (F.lit(1000) * F.col("w")).cast("double")
            / F.col("s").cast("double")
        )
        - (F.lit(58500) * F.col("y")).cast("double")
        / F.col("w").cast("double")
    ).cast("bigint")
    return m.select(
        "doc_id",
        F.col("s").cast("bigint").alias("n_sentences"),
        F.col("w").cast("bigint").alias("n_words"),
        F.col("y").cast("bigint").alias("n_syllables"),
        flesch.alias("flesch_e3"),
        F.when(flesch >= 60000, "leicht")
        .when(flesch >= 30000, "mittel")
        .otherwise("schwer")
        .alias("band"),
    )


@query(
    "q126_event_transitions",
    """
    WITH ordered AS (
      SELECT user_id, event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ), tr AS (
      -- from_type IS NOT NULL keeps the domain identical to the
      -- Spark twin on inputs with null event_type: the totals JOIN
      -- below would silently drop a NULL group that the window
      -- formulation keeps (review r02 finding)
      SELECT from_type, to_type, COUNT(*) AS n_transitions
      FROM ordered
      WHERE to_type IS NOT NULL AND from_type IS NOT NULL
      GROUP BY 1, 2
    ), tot AS (
      SELECT from_type, SUM(n_transitions) AS total FROM tr GROUP BY 1
    )
    SELECT t.from_type, t.to_type,
           CAST(t.n_transitions AS BIGINT) AS n_transitions,
           CAST((1000000 * t.n_transitions) // tot.total AS BIGINT)
             AS p_ppm
    FROM tr t JOIN tot USING (from_type)
    """,
)
def q126(spark, sf_dir):
    """First-order Markov transition matrix over each user's event
    stream — the sequence model behind next-action prediction,
    funnel-drop diagnosis (q67's stages generalized to ALL pairs), and
    bot detection (a scraper's transition row is near-deterministic
    while humans spread probability mass). Probabilities are exact
    integer ppm: (1e6 * count) div row_total, no float anywhere.

    Spark shape: ONE corpus-scale window shuffle (user_id — the same
    partitioning q09/q67 use, so on a pre-bucketed events table it
    vanishes) pairs each event with its successor in-row via LEAD;
    everything after runs on the types^2-sized transition relation
    (map-side-partial groupBy, then a broadcast join against the
    row totals). Deterministic: the (ts, event_id) order key is
    unique per user."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(
        F.col("to_type").isNotNull() & F.col("from_type").isNotNull()
    )
    tr = ordered.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n_transitions")
    )
    # row totals via a window over the types^2-sized relation — NOT a
    # self-join, whose static plan would recompute the whole corpus
    # subtree for the totals side (AQE reuse is runtime-best-effort;
    # the window makes single-scan structural)
    tot = F.sum("n_transitions").over(Window.partitionBy("from_type"))
    return tr.withColumn("total", tot).select(
        "from_type",
        "to_type",
        F.col("n_transitions").cast("bigint").alias("n_transitions"),
        F.expr("(1000000 * n_transitions) div total")
        .cast("bigint")
        .alias("p_ppm"),
    )


# German month names, genitive-free written-date forms. Position = month
# number (1-based). Shared by the Spark CASE chain and the oracle.
_DE_MONTHS = (
    "Januar", "Februar", "März", "April", "Mai", "Juni", "Juli",
    "August", "September", "Oktober", "November", "Dezember",
)


@query(
    "q127_date_normalize",
    f"""
    WITH base AS (
      -- month is keyed to doc_id // 3, NOT doc_id: the format arm is
      -- doc_id % 3, and coupling both to doc_id would make month
      -- residues 2,5,8,11 (incl. 'März') unreachable in the written
      -- branch on ANY input — dead CASE arms the gate never executes
      SELECT doc_id,
             1 + doc_id % 28 AS d, 1 + (doc_id // 3) % 12 AS m,
             2020 + doc_id % 5 AS y
      FROM documents
    ), raw AS (
      SELECT doc_id, d, m, y,
             CASE CAST(doc_id % 3 AS INT)
               WHEN 0 THEN lpad(CAST(d AS VARCHAR), 2, '0') || '.'
                        || lpad(CAST(m AS VARCHAR), 2, '0') || '.'
                        || CAST(y AS VARCHAR)
               WHEN 1 THEN CAST(d AS VARCHAR) || '. '
                        || ['{_DE_MONTHS[0]}','{_DE_MONTHS[1]}',
                            '{_DE_MONTHS[2]}','{_DE_MONTHS[3]}',
                            '{_DE_MONTHS[4]}','{_DE_MONTHS[5]}',
                            '{_DE_MONTHS[6]}','{_DE_MONTHS[7]}',
                            '{_DE_MONTHS[8]}','{_DE_MONTHS[9]}',
                            '{_DE_MONTHS[10]}','{_DE_MONTHS[11]}'
                           ][CAST(m AS INT)] || ' ' || CAST(y AS VARCHAR)
               ELSE CAST(y AS VARCHAR) || '-'
                 || lpad(CAST(m AS VARCHAR), 2, '0') || '-'
                 || lpad(CAST(d AS VARCHAR), 2, '0')
             END AS raw
      FROM base
    ), det AS (
      SELECT doc_id, raw,
             CASE
               WHEN regexp_matches(raw,
                 '^[0-9]{{2}}\\.[0-9]{{2}}\\.[0-9]{{4}}$')
                 THEN 'de_numeric'
               WHEN regexp_matches(raw,
                 '^[0-9]{{1,2}}\\. [A-Za-zä]+ [0-9]{{4}}$')
                 THEN 'de_written'
               ELSE 'iso'
             END AS fmt
      FROM raw
    )
    SELECT doc_id, raw, fmt,
           CASE fmt
             WHEN 'de_numeric' THEN substr(raw, 7, 4) || '-'
               || substr(raw, 4, 2) || '-' || substr(raw, 1, 2)
             WHEN 'de_written' THEN
               regexp_extract(raw, ' ([0-9]{{4}})$', 1) || '-'
               || lpad(CAST(
                    CASE regexp_extract(raw, '^[0-9]+\\. ([A-Za-zä]+) ', 1)
                      {" ".join(f"WHEN '{n}' THEN '{i + 1}'" for i, n in enumerate(_DE_MONTHS))}
                    END AS VARCHAR), 2, '0') || '-'
               || lpad(regexp_extract(raw, '^([0-9]+)\\.', 1), 2, '0')
             ELSE raw
           END AS iso
    FROM det
    """,
)
def q127(spark, sf_dir):
    """German date normalization — every format the reference's
    invoice extractor meets in the wild ('07.03.2024', '7. März
    2024', ISO) rewritten to one canonical yyyy-mm-dd, with the
    detected format as an audit column (ref `extractor.py:19-29`
    date field; q91's locale-amount twin for dates). Pure string
    algebra on BOTH engines — no to_date/strptime anywhere, because
    month-name parsing is locale-dependent and a JVM-vs-utf8proc
    locale difference would silently corrupt the gate; the month map
    is an explicit 12-arm CASE over _DE_MONTHS.

    Fixture dates are constructed deterministically from doc_id by
    both engines (q91/q94 discipline) so detection AND rewrite
    execute for real on every row.

    Spark shape: map-only, one WholeStageCodegen pass, zero
    shuffles, zero Python."""
    d = load(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        (1 + F.col("doc_id") % 28).alias("d"),
        F.expr("1 + (doc_id div 3) % 12").alias("m"),
        (2020 + F.col("doc_id") % 5).alias("y"),
    )
    months = ",".join(f"'{n}'" for n in _DE_MONTHS)
    raw = F.expr(
        "CASE CAST(doc_id % 3 AS INT)"
        " WHEN 0 THEN lpad(CAST(d AS STRING), 2, '0') || '.'"
        "  || lpad(CAST(m AS STRING), 2, '0') || '.' || CAST(y AS STRING)"
        f" WHEN 1 THEN CAST(d AS STRING) || '. '"
        f"  || element_at(array({months}), CAST(m AS INT))"
        "  || ' ' || CAST(y AS STRING)"
        " ELSE CAST(y AS STRING) || '-' || lpad(CAST(m AS STRING), 2, '0')"
        "  || '-' || lpad(CAST(d AS STRING), 2, '0') END"
    )
    fmt = F.expr(
        r"CASE WHEN raw RLIKE '^[0-9]{2}\\.[0-9]{2}\\.[0-9]{4}$'"
        " THEN 'de_numeric'"
        r" WHEN raw RLIKE '^[0-9]{1,2}\\. [A-Za-zä]+ [0-9]{4}$'"
        " THEN 'de_written' ELSE 'iso' END"
    )
    month_case = " ".join(
        f"WHEN '{n}' THEN '{i + 1}'" for i, n in enumerate(_DE_MONTHS)
    )
    iso = F.expr(
        "CASE fmt"
        " WHEN 'de_numeric' THEN substring(raw, 7, 4) || '-'"
        "  || substring(raw, 4, 2) || '-' || substring(raw, 1, 2)"
        " WHEN 'de_written' THEN"
        "  regexp_extract(raw, ' ([0-9]{4})$', 1) || '-'"
        "  || lpad(CAST(CASE regexp_extract(raw,"
        r" '^[0-9]+\\. ([A-Za-zä]+) ', 1)"
        f" {month_case} END AS STRING), 2, '0') || '-'"
        r" || lpad(regexp_extract(raw, '^([0-9]+)\\.', 1), 2, '0')"
        " ELSE raw END"
    )
    return (
        base.select("doc_id", raw.alias("raw"))
        .select("doc_id", "raw", fmt.alias("fmt"))
        .select("doc_id", "raw", "fmt", iso.alias("iso"))
    )


@query(
    "q128_pq_recall_audit",
    _EMB_DIMS_CTE
    + f"""
    , xd AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             SUM(CAST((q.v - c.v) * (q.v - c.v) AS DECIMAL(28,12))) AS d2
      FROM dims q JOIN dims c
        ON q.pos = c.pos
       AND q.vec_id BETWEEN {PQ_K} AND {PQ_K + 4}
       AND c.vec_id >= {PQ_K} AND c.vec_id <> q.vec_id
      GROUP BY 1, 2
    ), xranked AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY d2 ASC, neighbor_id ASC) AS rn
      FROM xd
    ), truth AS (
      SELECT query_id, neighbor_id FROM xranked WHERE rn <= {PQ_TOP_K}
    ), ann AS (
      SELECT query_id, neighbor_id
      FROM ({ORACLES['q120_pq_adc_topk']})
    )
    SELECT t.query_id,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_matched,
           CAST(COUNT(a.neighbor_id) * 1000000 // COUNT(*) AS BIGINT)
             AS recall_ppm
    FROM truth t
    LEFT JOIN ann a
      ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
    GROUP BY 1
    """,
)
def q128(spark, sf_dir):
    """PQ recall audit — q86's discipline applied to the third
    approximate structure: q120's ADC top-k measured against the
    EXACT full-precision L2 top-k over the same query/corpus domain,
    per-query recall in exact integer ppm over the truth-set size.
    Every approximate family in the registry now carries its
    calibration query — MinHash→q98, IVF→q86, PQ→this — because an
    unaudited codebook (PQ_M/PQ_K) is an unverified guess: this is
    the number that decides subspace count and codebook size.

    On the live synthetic fixtures this audit reports recall 0 —
    CORRECTLY: a PQ_K=4 (2-bit) codebook seeded from 4 arbitrary
    vectors cannot discriminate 64-dim noise, so ADC ranking is
    near-random and the top-5 sets are disjoint. That all-zero row is
    the audit doing its job (the q86 IVF audit on the same fixtures
    reports 1000000 because its 16-cell probe covers the candidates);
    a production deployment reads this number and grows PQ_K /
    trains the codebook (q105's k-means step per subspace) until the
    recall target holds. The full-recall case is pinned by the
    planted-codebook test.

    Spark shape: the truth side is one corpus map pass (broadcast
    queries, exact-decimal d2 fold in-row — compared as DECIMAL so
    ranking can never split on a rounding) + a per-query window; the
    ADC side is q120's own plan; the audit join and aggregation run
    on 5 x PQ_TOP_K rows."""
    e = _load_embeddings(spark, sf_dir)
    ann = QUERIES["q120_pq_adc_topk"](spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("ann_neighbor")
    )
    corpus = e.filter(F.col("vec_id") >= PQ_K).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
    )
    qdf = (
        e.filter(
            (F.col("vec_id") >= PQ_K) & (F.col("vec_id") <= PQ_K + 4)
        ).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
        )
    )
    d2 = F.expr(
        "aggregate(filter(zip_with(c_emb, q_emb,"
        " (x, y) -> cast((cast(x as double) - cast(y as double))"
        " * (cast(x as double) - cast(y as double)) as decimal(28,12))),"
        " p -> p is not null), cast(0 as decimal(38,12)),"
        " (a, b) -> cast(a + b as decimal(38,12)))"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc()
    )
    truth = (
        corpus.crossJoin(F.broadcast(qdf))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("d2", d2)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PQ_TOP_K)
        .select("query_id", "neighbor_id")
    )
    hits = truth.join(
        ann,
        (ann["query_id"] == truth["query_id"])
        & (ann["ann_neighbor"] == truth["neighbor_id"]),
        "left",
    ).select(truth["query_id"], "ann_neighbor")
    return hits.groupBy("query_id").agg(
        F.count("ann_neighbor").cast("bigint").alias("n_matched"),
        F.expr(
            "cast(count(ann_neighbor) * 1000000 div count(*) as bigint)"
        ).alias("recall_ppm"),
    )


# ---------------------------------------------------------------------------
# q129: character-bigram LM training — the step that PRODUCES q92's cost
# table. Top-K table size; cost_bits = floor(log2(corpus_bigrams / n)),
# computed exactly in integers via bin() string length (identical on both
# engines — no floating log crosses the boundary).
LM_TRAIN_TOP_K = 40


@query(
    "q129_lm_train_bigrams",
    f"""
    WITH pos AS (
      SELECT text, unnest(range(1, length(text))) AS i
      FROM documents WHERE length(text) >= 2
    ), cnt AS (
      SELECT substring(text, CAST(i AS INT), 2) AS bigram, COUNT(*) AS n
      FROM pos GROUP BY 1
    ), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM cnt),
    rk AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, bigram ASC) AS INT)
               AS rank,
             bigram,
             CAST(n AS BIGINT) AS n,
             CAST(n * 1000000 // t AS BIGINT) AS ppm,
             CAST(length(bin(greatest(t // n, 1))) - 1 AS BIGINT)
               AS cost_bits
      FROM cnt, tot
    )
    SELECT rank, bigram, n, ppm, cost_bits FROM rk
    WHERE rank <= {LM_TRAIN_TOP_K}
    """,
)
def q129(spark, sf_dir):
    """Char-bigram LM TRAINING — the corpus pass that produces the cost
    table q92's perplexity-proxy filter consumes (CCNet trains its KenLM
    on target-domain text the same way; the trained table here is the
    data-derived analog of q92's literal CASE). Output: the top
    {LM_TRAIN_TOP_K} bigrams by corpus frequency with exact counts, ppm
    mass, and an integer bit-cost ``cost_bits = floor(log2(total/n))``
    — exactly the -log2 probability quantization q92's hand table uses
    (frequent bigrams cost 2-6 bits, the long tail falls to the default
    cost), so ``q129 → generate CASE → q92`` closes the train/score
    loop.

    Spark shape: one generator pass (``explode(sequence(...))`` +
    ``substring`` — pipelined inside WholeStageCodegen, never
    materialized) feeding a hash aggregate on the bigram key. The key
    domain is the alphabet squared (a few thousand), so map-side
    partial aggregation collapses each task's output to ~|Σ|² rows and
    the shuffle carries tasks × |Σ|² partials — independent of corpus
    size. Ranking, totals, and the bit-cost all run on the aggregated
    few-thousand-row relation (single-partition window is deliberate
    there). floor(log2) is computed as ``length(bin(t div n)) - 1`` —
    exact integer arithmetic, no libm log whose last-ulp rounding could
    split the engines."""
    d = load(spark, sf_dir, "documents").filter(F.length("text") >= 2)
    cnt = (
        d.select(
            "text",
            F.expr("explode(sequence(1, length(text) - 1))").alias("i"),
        )
        .select(F.expr("substring(text, i, 2)").alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("bigram").asc())
    return (
        cnt.withColumn("t", F.sum("n").over(Window.partitionBy()))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= LM_TRAIN_TOP_K)
        .select(
            "rank",
            "bigram",
            "n",
            F.expr("n * 1000000 div t").cast("bigint").alias("ppm"),
            (
                F.length(F.expr("bin(greatest(t div n, 1))")) - F.lit(1)
            )
            .cast("bigint")
            .alias("cost_bits"),
        )
    )


# ---------------------------------------------------------------------------
# q130: DSIR-style importance resampling (Xie et al. 2023, "Data
# Selection for Language Models via Importance Resampling"): score every
# document by how much more its hashed-token distribution looks like the
# TARGET slice (lang='de') than the RAW pool, select above-threshold.
# Weights are exact-integer ppm differences (ppm_target - ppm_raw) — a
# linearized surrogate for the paper's log-ratio that keeps the whole
# computation in int64 (monotone in the ratio around p_t ≈ p_r, and
# bitwise-reproducible across engines, which libm log is not).
DSIR_BUCKETS = 256
DSIR_SEL_T = 0  # select docs whose mean token weight is >= 0


@query(
    "q130_dsir_selection",
    f"""
    WITH tk AS (
      SELECT doc_id, source,
             (CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS tgt,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ), tb AS (
      SELECT doc_id, source, tgt,
             ('0x' || substr(md5(tok), 1, 4))::BIGINT % {DSIR_BUCKETS}
               AS bucket
      FROM tk WHERE tok <> ''
    ), w AS (
      SELECT bucket, CAST(SUM(tgt) AS BIGINT) AS nt, COUNT(*) AS nr
      FROM tb GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(nt) AS BIGINT) AS tt, CAST(SUM(nr) AS BIGINT) AS tr
      FROM w
    ), wt AS (
      SELECT bucket,
             CAST(nt * 1000000 // tt AS BIGINT)
               - CAST(nr * 1000000 // tr AS BIGINT) AS weight
      FROM w, tot
    ), ds AS (
      SELECT t.doc_id, t.source,
             CAST(SUM(weight) AS BIGINT) AS s, COUNT(*) AS n
      FROM tb t JOIN wt USING (bucket) GROUP BY 1, 2
    ), sc AS (
      SELECT doc_id, source, n,
             CAST((s + n * 1000000) // n AS BIGINT) - 1000000 AS avg_w
      FROM ds
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN avg_w >= {DSIR_SEL_T} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_selected,
           CAST(SUM(CASE WHEN avg_w >= {DSIR_SEL_T} THEN n ELSE 0 END)
                AS BIGINT) AS sel_tokens
    FROM sc GROUP BY source
    """,
)
def q130(spark, sf_dir):
    """DSIR importance selection — the data-mixing stage that upsamples
    documents resembling a target domain: estimate hashed-token
    distributions for the target slice (lang='de') and the raw pool,
    weight each of the {DSIR_BUCKETS} hash buckets by its exact-ppm
    mass difference, score every document by its mean token weight, and
    report per-source selection counts + selected token mass. The
    sampling threshold (mean weight >= {DSIR_SEL_T}) keeps documents at
    least as target-like as average.

    Spark shape: two passes over the tokenized corpus, both
    generator-fed hash aggregates. Pass 1 (training) groups by the
    {DSIR_BUCKETS}-value bucket key — map-side partials make the
    shuffle tasks x {DSIR_BUCKETS} rows regardless of corpus size; the
    resulting weight table is {DSIR_BUCKETS} rows and is BROADCAST into
    pass 2 (scoring), which joins each token's bucket against it and
    aggregates per document, then per source. No corpus-scale shuffle
    carries more than (doc_id, bucket-partials); the two scans are
    inherent to train-then-score (CCNet/DSIR run them as separate
    jobs). Division safety: the per-doc mean uses
    ``(s + n*1e6) div n - 1e6`` so the integer division operand is
    non-negative on both engines (Spark ``div`` truncates toward zero,
    DuckDB ``//`` floors — they agree only on non-negative operands;
    ``s >= -n*1e6`` because each weight >= -1e6)."""
    d = load(spark, sf_dir, "documents")
    tb = (
        d.select(
            "doc_id",
            "source",
            (F.col("lang") == "de").cast("int").alias("tgt"),
            F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .select(
            "doc_id",
            "source",
            "tgt",
            F.expr(
                "cast(conv(substring(md5(tok), 1, 4), 16, 10) as bigint)"
                f" % {DSIR_BUCKETS}"
            ).alias("bucket"),
        )
    )
    w = tb.groupBy("bucket").agg(
        F.sum("tgt").cast("bigint").alias("nt"),
        F.count("*").alias("nr"),
    )
    # totals as a single-partition window over the DSIR_BUCKETS-row
    # aggregate (not an agg + crossJoin, whose static plan re-evaluates
    # the corpus-scan subtree once per consumer — q126's totals lesson)
    wall = Window.partitionBy()
    wt = w.select(
        "bucket",
        F.sum("nt").over(wall).cast("bigint").alias("tt"),
        F.sum("nr").over(wall).cast("bigint").alias("tr"),
        "nt",
        "nr",
    ).select(
        "bucket",
        (
            F.expr("nt * 1000000 div tt").cast("bigint")
            - F.expr("nr * 1000000 div tr").cast("bigint")
        ).alias("weight"),
    )
    ds = (
        tb.select("doc_id", "source", "bucket")
        .join(F.broadcast(wt), "bucket")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("weight").cast("bigint").alias("s"),
            F.count("*").alias("n"),
        )
    )
    sc = ds.select(
        "source",
        "n",
        (
            F.expr("(s + n * 1000000) div n").cast("bigint")
            - F.lit(1000000)
        ).alias("avg_w"),
    )
    return sc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("avg_w") >= DSIR_SEL_T).cast("int"))
        .cast("bigint")
        .alias("n_selected"),
        F.sum(
            F.when(F.col("avg_w") >= DSIR_SEL_T, F.col("n")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("sel_tokens"),
    )


# ---------------------------------------------------------------------------
# q131: temperature-based multilingual mixing (the mC4/XLM-R alpha-
# sampling rule, alpha = 0.5): sampling weight per language ∝ (token
# mass)^0.5, flattening the head so low-resource languages are
# upsampled. sqrt is the ONE float op — IEEE-correctly-rounded on both
# engines, and floor(sqrt(n)) cannot land on the wrong integer for
# n ≪ 2^50 (ulp of sqrt(n) ~ 2^-52·sqrt(n) is far below the 1/(2·sqrt(n))
# gap to the next perfect square), so the whole mix stays exact int64.
MIX_TOKEN_BUDGET = 1_000_000  # tokens the mixed corpus may spend


@query(
    "q131_temperature_mix",
    f"""
    WITH mass AS (
      SELECT lang,
             CAST(SUM({textstats.token_count_sql('text')}) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY lang
    ), w AS (
      SELECT lang, n_tokens,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS wgt
      FROM mass
    ), tot AS (SELECT CAST(SUM(wgt) AS BIGINT) AS tw FROM w)
    SELECT lang, n_tokens, wgt,
           CAST(wgt * 1000000 // tw AS BIGINT) AS mix_ppm,
           CAST(wgt * {MIX_TOKEN_BUDGET} // tw AS BIGINT) AS alloc_tokens
    FROM w, tot
    """,
)
def q131(spark, sf_dir):
    """Temperature-based language mixing — the data-mixing rule
    multilingual training runs use (mC4 / XLM-R alpha-sampling with
    alpha = 0.5): each language's sampling weight is the square root of
    its token mass, so head languages are downsampled and tail
    languages upsampled relative to natural frequency. Output per
    language: exact token mass, integer weight floor(sqrt(mass)), the
    normalized mix share in exact ppm, and the token allocation out of
    a {MIX_TOKEN_BUDGET}-token budget.

    Spark shape: token counts are computed IN-ROW (q35's counter — no
    token explode) and aggregated by the languages-sized key domain
    (map-side partials; the shuffle is tasks × |langs| rows at any
    corpus size). Everything after the aggregate runs on a handful of
    rows; the totals use the same single-partition-window-over-tiny-
    relation pattern as q129/q130. floor(sqrt) exactness is argued in
    the constant's comment; every division is integer `div` of
    non-negative operands."""
    d = load(spark, sf_dir, "documents")
    mass = d.groupBy("lang").agg(
        F.sum(textstats.token_count_col(F.col("text")))
        .cast("bigint")
        .alias("n_tokens")
    )
    w = mass.select(
        "lang",
        "n_tokens",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")))
        .cast("bigint")
        .alias("wgt"),
    )
    wall = Window.partitionBy()
    return w.select(
        "lang",
        "n_tokens",
        "wgt",
        F.sum("wgt").over(wall).cast("bigint").alias("tw"),
    ).select(
        "lang",
        "n_tokens",
        "wgt",
        F.expr("wgt * 1000000 div tw").cast("bigint").alias("mix_ppm"),
        F.expr(f"wgt * {MIX_TOKEN_BUDGET} div tw")
        .cast("bigint")
        .alias("alloc_tokens"),
    )


# ---------------------------------------------------------------------------
# q132: curriculum deciles by LM difficulty — EXACT corpus-wide deciles
# without a global sort: the difficulty key (q92's lm_cost_e3) lives in
# a bounded integer domain, so its full histogram is small; exact decile
# cut-offs come from the histogram's cumulative counts and every doc's
# bucket is (10 * count_of_strictly_cheaper_docs) div total — ties share
# a bucket (deterministic; NTILE would split them arbitrarily).
CURRICULUM_BUCKETS = 10


@query(
    "q132_curriculum_deciles",
    f"""
    WITH scored AS (
      SELECT doc_id,
             CAST((list_sum(list_transform(range(1, length(text)),
               i -> {_lm_case('substring(text, CAST(i AS INT), 2)')}))
               * 1000) // (length(text) - 1) AS BIGINT) AS cost_e3,
             {textstats.token_count_sql('text')} AS n_tokens
      FROM documents WHERE length(text) >= 2
    ), hist AS (
      SELECT cost_e3, COUNT(*) AS n FROM scored GROUP BY 1
    ), cum AS (
      SELECT cost_e3,
             CAST(COALESCE(SUM(n) OVER (ORDER BY cost_e3
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS below,
             CAST(SUM(n) OVER () AS BIGINT) AS total
      FROM hist
    ), lab AS (
      SELECT s.doc_id, s.cost_e3, s.n_tokens,
             CAST(c.below * {CURRICULUM_BUCKETS} // c.total AS BIGINT)
               AS bucket
      FROM scored s JOIN cum c USING (cost_e3)
    )
    SELECT bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(MIN(cost_e3) AS BIGINT) AS min_cost_e3,
           CAST(MAX(cost_e3) AS BIGINT) AS max_cost_e3
    FROM lab GROUP BY bucket
    """,
)
def q132(spark, sf_dir):
    """Curriculum bucketing: order the corpus easy→hard by the q92 LM
    difficulty score and report each of the {CURRICULUM_BUCKETS}
    curriculum stages' document count, token mass, and difficulty
    range — the stage table a curriculum-ordered training run feeds
    from. A document's bucket is determined by the number of strictly
    easier documents: ties (equal cost) always share a bucket, so the
    assignment is deterministic and engine-independent (a global NTILE
    would split ties by physical row order).

    Spark shape: EXACT corpus-wide quantiles with NO global sort. The
    difficulty key is integer e3 in a bounded domain (0..12000), so
    (1) one map pass scores every doc in-row (q92's codegen fold),
    (2) a hash agg on the cost key builds the full histogram — map-side
    partials, shuffle ≤ tasks × domain rows, (3) cumulative counts +
    total are windows over the ≤12001-row histogram, (4) the bucket
    labels BROADCAST back onto the scored relation (AQE picks this at
    any scale — the histogram cannot outgrow its domain), and (5) the
    report is a {CURRICULUM_BUCKETS}-key hash agg. percentile_approx
    would be one pass but approximate; a global row_number is exact but
    single-partition — the bounded-domain histogram is both exact and
    scale-shaped."""
    d = load(spark, sf_dir, "documents").filter(F.length("text") >= 2)
    case = _lm_case("substring(text, i, 2)")
    scored = d.select(
        "doc_id",
        F.expr(
            f"cast((aggregate(sequence(1, length(text) - 1), 0L,"
            f" (acc, i) -> acc + {case}) * 1000)"
            f" div (length(text) - 1) as bigint)"
        ).alias("cost_e3"),
        textstats.token_count_col(F.col("text")).alias("n_tokens"),
    )
    # scored feeds the histogram AND the label join-back: materialize
    # once (q112 pattern) so the per-character scoring fold — the only
    # corpus-scale compute here — runs a single time, and the second
    # consumer reads 3 narrow integer columns instead of re-folding
    # every character (measured 5.5s -> ~3s at sf0.1/32c)
    scored = scored.transform(materialize)
    hist = scored.groupBy("cost_e3").agg(F.count("*").alias("n"))
    wcum = (
        Window.orderBy("cost_e3")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.partitionBy()
    cum = hist.select(
        "cost_e3",
        F.coalesce(F.sum("n").over(wcum), F.lit(0))
        .cast("bigint")
        .alias("below"),
        F.sum("n").over(wall).cast("bigint").alias("total"),
    ).select(
        "cost_e3",
        F.expr(f"below * {CURRICULUM_BUCKETS} div total")
        .cast("bigint")
        .alias("bucket"),
    )
    lab = scored.join(F.broadcast(cum), "cost_e3")
    return lab.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.min("cost_e3").cast("bigint").alias("min_cost_e3"),
        F.max("cost_e3").cast("bigint").alias("max_cost_e3"),
    )


# ---------------------------------------------------------------------------
# q133: content-defined chunking (FastCDC/LBFS family, word-granular):
# a cut falls AFTER token i when the hash of the CDC_W-token window
# ending at i has its low CDC_MASK_BITS zero — boundaries move with the
# content, so an insertion early in a document shifts at most one
# chunk's identity (fixed-width passages, q53, re-key EVERYTHING after
# the edit). Expected chunk length is 2^CDC_MASK_BITS tokens.
CDC_W = 3
CDC_MASK_BITS = 4


def _cdc_hash_spark(slice_expr: str) -> str:
    return (
        f"cast(conv(substring(md5(concat_ws(' ', {slice_expr})), 1, 12),"
        " 16, 10) as bigint)"
    )


def _cdc_hash_duck(slice_expr: str) -> str:
    return (
        f"('0x' || substr(md5(array_to_string({slice_expr}, ' ')), 1, 12))"
        "::BIGINT"
    )


@query(
    "q133_cdc_chunk_dedup",
    f"""
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0
    ), cut AS (
      SELECT doc_id, toks,
             list_concat(list_concat([0],
               list_filter(range({CDC_W}, len(toks)),
                 i -> {_cdc_hash_duck(f'list_slice(toks, i - {CDC_W} + 1, i)')}
                      % {1 << CDC_MASK_BITS} = 0)),
               [len(toks)]) AS cuts
      FROM d
    ), ch AS (
      SELECT unnest(list_transform(range(1, len(cuts)), j -> struct_pack(
               h := {_cdc_hash_duck('list_slice(toks, cuts[j] + 1, cuts[j + 1])')},
               n := cuts[j + 1] - cuts[j]))) AS c
      FROM cut
    ), byh AS (
      SELECT c.h AS h, COUNT(*) AS n_occ, MIN(c.n) AS len
      FROM ch GROUP BY 1
    )
    SELECT CAST(SUM(n_occ) AS BIGINT) AS n_chunks,
           COUNT(*) AS n_distinct,
           CAST(SUM(n_occ - 1) AS BIGINT) AS dup_chunks,
           CAST(SUM((n_occ - 1) * len) AS BIGINT) AS dup_tokens,
           CAST(SUM(n_occ * len) * 1000 // SUM(n_occ) AS BIGINT)
             AS avg_len_e3
    FROM byh
    """,
)
def q133(spark, sf_dir):
    """Content-defined chunk dedup — the storage/delta-dedup view of
    the corpus (LBFS/FastCDC, word-granular): cut points are where a
    rolling {CDC_W}-token window hash has its low {CDC_MASK_BITS} bits
    zero, chunks are hashed, and the report gives total/distinct chunk
    counts, duplicated-chunk token mass, and mean chunk length (e3).
    Because boundaries are chosen by CONTENT, an edit or insertion
    perturbs only the chunk it touches — the property that makes CDC
    the right granularity for incremental crawl refresh (recrawled
    pages share every unchanged chunk with the previous snapshot),
    where the fixed-width passages of q53 would re-key every passage
    after the edit point.

    Spark shape: boundary selection, chunk slicing, and chunk hashing
    are ALL in-row higher-order expressions (filter/transform over the
    token array — one WholeStageCodegen map pass, the q36/q46
    discipline); the exploded relation has one row per CHUNK (~n/2^{CDC_MASK_BITS}
    of the token count), and the only shuffles are the hash-key
    groupBy (map-side partials — a hot boilerplate chunk adds
    integers per task, never a list) and the single-row final roll-up.
    Cross-engine parity: the md5-prefix int64 (q18's trick) and pure
    integer arithmetic end to end."""
    n = "size(toks)"
    bound = (
        f"CASE WHEN {n} > {CDC_W} THEN "
        f"filter(sequence({CDC_W}, {n} - 1),"
        f" i -> {_cdc_hash_spark(f'slice(toks, i - {CDC_W} + 1, {CDC_W})')}"
        f" % {1 << CDC_MASK_BITS} = 0)"
        " ELSE array() END"
    )
    cuts = f"concat(array(0), {bound}, array({n}))"
    chunk = (
        f"transform(sequence(1, size(cuts) - 1), j -> struct("
        f"{_cdc_hash_spark('slice(toks, element_at(cuts, j) + 1, element_at(cuts, j + 1) - element_at(cuts, j))')}"
        " AS h,"
        " element_at(cuts, j + 1) - element_at(cuts, j) AS n))"
    )
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select(F.split(F.trim("text"), r"\s+").alias("toks"))
        .select(F.expr(cuts).alias("cuts"), "toks")
        .select(F.explode(F.expr(chunk)).alias("c"))
        .select(F.col("c.h").alias("h"), F.col("c.n").alias("n"))
    )
    byh = d.groupBy("h").agg(
        F.count("*").alias("n_occ"), F.min("n").alias("len")
    )
    return byh.agg(
        F.sum("n_occ").cast("bigint").alias("n_chunks"),
        F.count("*").alias("n_distinct"),
        F.sum(F.col("n_occ") - 1).cast("bigint").alias("dup_chunks"),
        F.sum((F.col("n_occ") - 1) * F.col("len"))
        .cast("bigint")
        .alias("dup_tokens"),
        F.expr("sum(n_occ * len) * 1000 div sum(n_occ)")
        .cast("bigint")
        .alias("avg_len_e3"),
    )


# ---------------------------------------------------------------------------
# q134: per-dimension embedding moments — the diagnostic behind
# whitening / dimension-truncation decisions (which dims carry
# variance, whether the encoder left a mean offset). Sums are exact
# DECIMAL (order-independent); the final mean/variance are fixed-shape
# double expressions floored to e6, the q125 discipline.
@query(
    "q134_embedding_dim_stats",
    """
    WITH dims AS (
      SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings WHERE len(embedding) > 0
    ), agg AS (
      SELECT dim, COUNT(*) AS n,
             CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(v * v AS DECIMAL(28,12))) AS DOUBLE) AS sx2
      FROM dims GROUP BY dim
    )
    SELECT dim, n,
           floor(sx / n * 1000000.0) / 1000000.0 AS mean_e6,
           floor((sx2 - sx * sx / n) / n * 1000000.0) / 1000000.0
             AS var_e6
    FROM agg
    """,
)
def q134(spark, sf_dir):
    """Per-dimension embedding moments: count, mean, and population
    variance for every embedding dimension — the one-pass profile that
    drives whitening, Matryoshka-style truncation, and dead-dimension
    detection before any ANN index is built (a dimension with ~zero
    variance is free index capacity; a non-zero mean breaks
    inner-product vs cosine equivalence).

    Spark shape: posexplode fans each vector into (dim, v) rows, but
    the groupBy key domain is exactly the dimensionality, so map-side
    partial aggregation collapses every task to ≤64 rows — the shuffle
    is tasks x dims no matter how many vectors. Cross-engine parity:
    Σv and Σv² accumulate as exact DECIMAL(28,12) (order-independent,
    the _fold_dec rule), and the final mean/variance are computed in
    DOUBLE with the IDENTICAL expression tree on both engines (each
    op correctly rounded, same order — q125's argument), then floored
    to e6."""
    e = _load_embeddings(spark, sf_dir)
    dims = e.select(
        F.posexplode("embedding").alias("dim", "v0")
    ).select("dim", F.col("v0").cast("double").alias("v"))
    agg = dims.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum(F.col("v").cast("decimal(28,12)"))
        .cast("double")
        .alias("sx"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(28,12)"))
        .cast("double")
        .alias("sx2"),
    )
    return agg.select(
        "dim",
        "n",
        _floor6(F.expr("sx / n")).alias("mean_e6"),
        _floor6(F.expr("(sx2 - sx * sx / n) / n")).alias("var_e6"),
    )


# ---------------------------------------------------------------------------
# q135: SemDeDup — semantic deduplication bounded by k-means cells
# (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
# through semantic deduplication"). Complements q34 (sign-LSH random
# hyperplanes): here the pair space is bounded by LEARNED centroids, so
# semantically dense regions — exactly where near-duplicates live — get
# compared, while random-projection buckets can split a tight cluster
# across buckets and miss pairs.

# Cosine threshold above which two same-cell vectors are semantic
# duplicates; the HIGHER-id one is dropped (deterministic keeper =
# smallest id that covers it, q34's rule). 0.30 matches q34 so the two
# dedup families are comparable on the same fixture.
SEMDEDUP_TAU = 0.30


@query(
    "q135_semdedup",
    _EMB_DIMS_CTE
    + f"""
    , cents AS (SELECT vec_id AS cell, pos, v FROM dims
                WHERE vec_id < {IVF_N_CELLS}),
    dists AS (
      SELECT d.vec_id, c.cell,
             CAST(SUM(CAST((d.v - c.v) * (d.v - c.v) AS DECIMAL(28,12)))
                  AS DOUBLE) AS d2
      FROM dims d JOIN cents c ON c.pos = d.pos
      WHERE d.vec_id >= {IVF_N_CELLS}
      GROUP BY 1, 2
    ), assign AS (
      SELECT vec_id, cell
      FROM (SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2 ASC, cell ASC) AS rn
            FROM dists)
      WHERE rn = 1
    ), dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             CAST(SUM(CAST(da.v * db.v AS DECIMAL(28,12))) AS DOUBLE) AS dot
      FROM assign a JOIN assign b
           ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN dims da ON da.vec_id = a.vec_id
      JOIN dims db ON db.vec_id = b.vec_id AND db.pos = da.pos
      GROUP BY 1, 2
    ), close AS (
      SELECT vec_b, COUNT(*) AS n_close, MAX(cos_sim) AS best_cos
      FROM (SELECT vec_a, vec_b,
                   (floor(dot / (na.nrm * nb.nrm) * 1000000.0)
                    / 1000000.0) AS cos_sim
            FROM dots JOIN norms na ON na.vec_id = vec_a
                      JOIN norms nb ON nb.vec_id = vec_b)
      WHERE cos_sim >= {SEMDEDUP_TAU}
      GROUP BY vec_b
    )
    SELECT s.vec_id, s.cell,
           COALESCE(c.n_close, 0) AS n_close,
           COALESCE(c.best_cos, -1.0) AS best_cos,
           CASE WHEN c.vec_b IS NULL THEN 'keep' ELSE 'drop' END AS verdict
    FROM assign s LEFT JOIN close c ON c.vec_b = s.vec_id
    """,
)
def q135(spark, sf_dir):
    """SemDeDup over the embedding corpus: assign every vector to its
    nearest learned centroid (q33's map-only inlined-literal
    assignment), then compare ONLY within a cell — a vector whose exact
    cosine to a LOWER-id cell-mate clears SEMDEDUP_TAU is a semantic
    duplicate and is dropped. Output: one verdict row per corpus
    vector (cell, how many lower-id near-twins, best cosine, keep/drop).

    Spark shape: assignment is map-only (centroid literals in-row,
    zero shuffle); the pair stage is a self-equi-join ON THE CELL KEY —
    never all-pairs. Pair work is sum(|cell|^2) = n * avg_cell_size,
    SemDeDup's own cost model: at 10^12 vectors, cells grow like
    sqrt(n) (IVF_N_CELLS' sizing rule) keeping per-cell lists bounded,
    AQE splits hot cells, and the staged inverted-list layout
    (`operators/staged_ivf.py`) makes the cell join shuffle-free when
    the index is already materialized. Exact-decimal dot/norm keeps
    Spark == DuckDB (the _fold_dec rule); cosine floored to e6 before
    the threshold so both engines compare the identical number."""
    e = _load_embeddings(spark, sf_dir)
    cent_rows = _collect_vec_rows(e, IVF_N_CELLS)
    dist_arr = _cent_dist_arr(cent_rows)
    corpus = e.filter(F.col("vec_id") >= IVF_N_CELLS)
    asg = corpus.select(
        "vec_id",
        F.element_at(dist_arr, 1).getField("cell").alias("cell"),
        "embedding",
        _nrm_dec(F.col("embedding")).alias("nrm"),
    )
    a = asg.select(
        F.col("vec_id").alias("vec_a"),
        "cell",
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = asg.select(
        F.col("vec_id").alias("vec_b"),
        "cell",
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cos = _floor6(
        _dot_dec(F.col("emb_a"), F.col("emb_b"))
        / (F.col("nrm_a") * F.col("nrm_b"))
    )
    close = (
        a.join(b, "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= SEMDEDUP_TAU)
        .groupBy("vec_b")
        .agg(
            F.count("*").alias("n_close"),
            F.max("cos_sim").alias("best_cos"),
        )
    )
    return (
        asg.select("vec_id", "cell")
        .join(close, F.col("vec_id") == close["vec_b"], "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce("n_close", F.lit(0)).cast("bigint").alias("n_close"),
            F.coalesce("best_cos", F.lit(-1.0)).alias("best_cos"),
            F.when(F.col("vec_b").isNull(), F.lit("keep"))
            .otherwise(F.lit("drop"))
            .alias("verdict"),
        )
    )


# ---------------------------------------------------------------------------
# q136: embedding standardization (whitening apply) + audit — the
# transform q134's moments exist to feed: z = (v - mean_d) / std_d per
# dimension, then re-profile the standardized corpus and verify every
# live dimension landed at mean 0 / variance 1. Dead dimensions
# (variance <= 0) standardize to 0 by definition on both engines.
@query(
    "q136_embedding_standardize",
    """
    WITH dims AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings WHERE len(embedding) > 0
    ), stats AS (
      SELECT dim, COUNT(*) AS n,
             CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(v * v AS DECIMAL(28,12))) AS DOUBLE) AS sx2
      FROM dims GROUP BY dim
    ), z AS (
      SELECT d.dim, s.n,
             CASE WHEN (s.sx2 - s.sx * s.sx / s.n) / s.n <= 0 THEN 0.0
                  ELSE (d.v - s.sx / s.n)
                       / sqrt((s.sx2 - s.sx * s.sx / s.n) / s.n)
             END AS z
      FROM dims d JOIN stats s ON s.dim = d.dim
    ), zagg AS (
      SELECT dim, n,
             CAST(SUM(CAST(z AS DECIMAL(28,12))) AS DOUBLE) AS sz,
             CAST(SUM(CAST(z * z AS DECIMAL(28,12))) AS DOUBLE) AS sz2,
             MIN(z) AS zmin, MAX(z) AS zmax
      FROM z GROUP BY dim, n
    )
    SELECT dim, n,
           floor(sz / n * 1000000.0) / 1000000.0 AS mean_z_e6,
           floor((sz2 - sz * sz / n) / n * 1000000.0) / 1000000.0
             AS var_z_e6,
           floor(zmin * 1000000.0) / 1000000.0 AS zmin_e6,
           floor(zmax * 1000000.0) / 1000000.0 AS zmax_e6
    FROM zagg
    """,
)
def q136(spark, sf_dir):
    """Standardize every embedding dimension to zero mean / unit
    variance (the whitening-apply pass ANN indexes and linear probes
    want) and AUDIT the result: per-dim post-transform mean (must be
    ~0), variance (~1), and extremes (the clip-range diagnostic).

    Spark shape: one dims-sized moments agg (64-key groupBy — map-side
    partials collapse each task to <=dims rows, q134's shape), then the
    standardizing pass re-reads the corpus with the 64-row stats
    BROADCAST — the transform itself never shuffles, so at 10^12
    vectors the plan is: tiny agg + map-only rewrite + tiny audit agg.
    Cross-engine parity: mean/std/z are fixed-shape double expression
    trees evaluated identically on both engines (q125's argument); the
    z-sums re-enter exact DECIMAL before aggregation so order never
    matters; outputs floored to e6."""
    e = _load_embeddings(spark, sf_dir)
    dims = e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v0")
    ).select("vec_id", "dim", F.col("v0").cast("double").alias("v"))
    stats = dims.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum(F.col("v").cast("decimal(28,12)")).cast("double").alias("sx"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(28,12)"))
        .cast("double")
        .alias("sx2"),
    )
    z = dims.join(F.broadcast(stats), "dim").select(
        "dim",
        "n",
        F.expr(
            "CASE WHEN (sx2 - sx * sx / n) / n <= 0 THEN 0.0D"
            " ELSE (v - sx / n) / sqrt((sx2 - sx * sx / n) / n) END"
        ).alias("z"),
    )
    zagg = z.groupBy("dim", "n").agg(
        F.sum(F.col("z").cast("decimal(28,12)")).cast("double").alias("sz"),
        F.sum((F.col("z") * F.col("z")).cast("decimal(28,12)"))
        .cast("double")
        .alias("sz2"),
        F.min("z").alias("zmin"),
        F.max("z").alias("zmax"),
    )
    return zagg.select(
        "dim",
        "n",
        _floor6(F.expr("sz / n")).alias("mean_z_e6"),
        _floor6(F.expr("(sz2 - sz * sz / n) / n")).alias("var_z_e6"),
        _floor6(F.col("zmin")).alias("zmin_e6"),
        _floor6(F.col("zmax")).alias("zmax_e6"),
    )


# ---------------------------------------------------------------------------
# q137: hybrid retrieval — reciprocal-rank fusion of the BM25 lexical
# ranking (q122's scorer) with the model-based quality ranking (q56's
# classifier), the standard way search stacks combine heterogeneous
# signals without calibrating their score scales (Cormack et al.'s RRF;
# hybrid lexical+quality/dense ranking in every modern retrieval
# stack). RRF_K = 60 is the canonical damping constant; scores are
# exact integers (1e9 div (K + rank)) so no float crosses engines.
RRF_K = 60
RRF_TOP_K = 10


@query(
    "q137_rrf_hybrid",
    _BM25_SCORED_SQL
    + f"""
    , cand AS (SELECT doc_id, score_ppm FROM sc WHERE score_ppm > 0),
    r1 AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score_ppm DESC, doc_id ASC)
               AS bm25_rank
      FROM cand
    ), qual AS (
      SELECT d.doc_id,
             CAST(({_QC_WSUM_SQL} * 1000) // len(toks) AS BIGINT)
               AS quality_e3
      FROM (SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents) d
      JOIN cand c ON c.doc_id = d.doc_id
    ), r2 AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY quality_e3 DESC, doc_id ASC)
               AS quality_rank
      FROM qual
    ), fused AS (
      SELECT r1.doc_id, bm25_rank, quality_rank,
             1000000000 // ({RRF_K} + bm25_rank)
             + 1000000000 // ({RRF_K} + quality_rank) AS rrf_score
      FROM r1 JOIN r2 ON r2.doc_id = r1.doc_id
    )
    SELECT doc_id, bm25_rank, quality_rank, rrf_score, rn AS rank FROM (
      SELECT doc_id, bm25_rank, quality_rank, rrf_score,
             ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS rn
      FROM fused)
    WHERE rn <= {RRF_TOP_K}
    """,
)
def q137(spark, sf_dir):
    """Hybrid search: candidates = documents matching at least one
    BM25 term; two independent rankings over that candidate set
    (lexical relevance via q122's exact rational-idf BM25, document
    quality via q56's hashed linear classifier); fuse with reciprocal
    rank — rrf = Σ 1e9 div (60 + rank) — and return the top
    RRF_TOP_K. A spammy exact-match page drops below a clean partial
    match, which is exactly why retrieval stacks fuse ranks instead of
    raw scores.

    Spark shape: the corpus-scale stages are q122's two map passes and
    q56's map-only scoring, both restricted to candidates by a join
    that Catalyst turns into a broadcast (candidates are posting-list
    sized, not corpus sized). The two ROW_NUMBER windows run on the
    candidate relation only — at 10^12 docs a production stack first
    caps candidates per term (WAND / top-N postings, q18's staged
    layout); the fusion itself is rank arithmetic on ≤candidate rows.
    All integers: ranks, div — bit-identical cross-engine."""
    d = load(spark, sf_dir, "documents")
    cand = (
        _bm25_scored(d)
        .filter(F.col("score_ppm") > 0)
        .select("doc_id", "score_ppm")
    )
    w1 = Window.orderBy(F.desc("score_ppm"), F.asc("doc_id"))
    r1 = cand.select(
        "doc_id", F.row_number().over(w1).alias("bm25_rank")
    )
    qual = (
        d.join(F.broadcast(cand.select("doc_id")), "doc_id")
        .select("doc_id", F.split(F.trim("text"), r"\s+").alias("toks"))
        .select(
            "doc_id",
            F.expr(f"({_QC_WSUM_SPARK} * 1000) div size(toks)")
            .cast("bigint")
            .alias("quality_e3"),
        )
    )
    w2 = Window.orderBy(F.desc("quality_e3"), F.asc("doc_id"))
    r2 = qual.select(
        "doc_id", F.row_number().over(w2).alias("quality_rank")
    )
    fused = r1.join(r2, "doc_id").select(
        "doc_id",
        "bm25_rank",
        "quality_rank",
        (
            F.expr(f"1000000000 div ({RRF_K} + bm25_rank)")
            + F.expr(f"1000000000 div ({RRF_K} + quality_rank)")
        )
        .cast("bigint")
        .alias("rrf_score"),
    )
    top = fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(
        RRF_TOP_K
    )
    wr = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(wr))


# ---------------------------------------------------------------------------
# q138: C4-style line-level cleaning (Raffel et al. 2020 §2.2 — the
# rules that built C4 from Common Crawl): keep only lines that end in
# terminal punctuation AND have at least C4_MIN_WORDS words AND carry
# no boilerplate marker ("javascript"/"cookie"); drop the whole
# document if fewer than C4_MIN_LINES lines survive. The corpus has no
# line structure, so the wire form is CONSTRUCTED by both engines with
# the same string algebra (q100/q123's planted-damage discipline):
# content lines = C4_LINE_W-word chunks terminated with '.', plus
# boilerplate lines injected by doc_id modulus — a JS-wall line (only
# rule 3 catches it: 7 words, ends '.'), a cookie-notice line (rule 3),
# and a 3-word nav line (rules 1+2).
C4_LINE_W = 8
C4_MIN_WORDS = 5
C4_MIN_LINES = 3
_C4_JS_LINE = "please enable javascript to view this page."
_C4_COOKIE_LINE = "this site uses cookies to improve our service."
_C4_NAV_LINE = "home about contact"


@query(
    "q138_c4_line_filter",
    f"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN []
                  ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
      FROM documents
    ), wire AS (
      SELECT doc_id,
             list_concat(
               CASE WHEN doc_id % 3 = 0
                    THEN ['{_C4_JS_LINE}'] ELSE [] END,
               list_concat(
                 list_transform(
                   range(0, CAST(ceil(len(w) / {C4_LINE_W}.0) AS BIGINT)),
                   i -> array_to_string(
                          list_slice(w, i * {C4_LINE_W} + 1,
                                     i * {C4_LINE_W} + {C4_LINE_W}),
                          ' ') || '.'),
                 CASE WHEN doc_id % 4 = 0
                      THEN ['{_C4_COOKIE_LINE}', '{_C4_NAV_LINE}']
                      ELSE [] END)) AS lines
      FROM toks
    ), cleaned AS (
      SELECT doc_id, lines,
             list_filter(lines, x ->
               substr(x, length(x), 1) = '.'
               AND len(string_split(x, ' ')) >= {C4_MIN_WORDS}
               AND position('javascript' IN x) = 0
               AND position('cookie' IN x) = 0) AS kept
      FROM wire
    )
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines_wire,
           CAST(len(kept) AS BIGINT) AS n_lines_kept,
           -- array_to_string([]) is NULL on DuckDB but '' on Spark
           CAST(length(COALESCE(array_to_string(kept, chr(10)), ''))
                AS BIGINT) AS n_chars_clean,
           substr(md5(COALESCE(array_to_string(kept, chr(10)), '')), 1, 16)
             AS clean_hash,
           CASE WHEN len(kept) >= {C4_MIN_LINES} THEN 'keep'
                ELSE 'drop' END AS verdict
    FROM cleaned
    """,
)
def q138(spark, sf_dir):
    """C4 line filtering over the corpus: construct the wire document
    (content chunks + modulus-planted boilerplate lines), apply the
    three public C4 line rules (terminal punctuation, >= C4_MIN_WORDS
    words, no javascript/cookie marker), reassemble, and report the
    per-document line counts, cleaned length/hash, and the document
    keep/drop verdict (fewer than C4_MIN_LINES survivors = drop).

    Spark shape: ENTIRELY in-row — construction, filtering, and
    reassembly are transform/filter/array_join over the document's own
    token array; one WholeStageCodegen map pass, zero shuffles, zero
    Python, at any corpus size (the same shape C4 itself needed:
    per-document rules, embarrassingly parallel). The planted lines
    make every rule branch fixture-reachable and regression-check the
    detection algebra, not the damage."""
    d = load(spark, sf_dir, "documents")
    w = F.when(F.length(F.trim("text")) == 0, F.expr("array()")).otherwise(
        F.split(F.trim("text"), r"\s+")
    )
    content = (
        f"transform(sequence(0, cast(ceil(size(w) / {C4_LINE_W}.0) as int)"
        f" - 1), i -> concat(array_join(slice(w, i * {C4_LINE_W} + 1,"
        f" {C4_LINE_W}), ' '), '.'))"
    )
    lines = F.expr(
        f"concat(IF(doc_id % 3 = 0, array('{_C4_JS_LINE}'),"
        f" cast(array() as array<string>)), {content},"
        f" IF(doc_id % 4 = 0, array('{_C4_COOKIE_LINE}', '{_C4_NAV_LINE}'),"
        f" cast(array() as array<string>)))"
    )
    kept = F.expr(
        f"filter(lines, x -> substring(x, length(x), 1) = '.'"
        f" AND size(split(x, ' ')) >= {C4_MIN_WORDS}"
        f" AND instr(x, 'javascript') = 0"
        f" AND instr(x, 'cookie') = 0)"
    )
    return (
        d.select("doc_id", w.alias("w"))
        .select("doc_id", lines.alias("lines"))
        .select("doc_id", "lines", kept.alias("kept"))
        .select(
            "doc_id",
            F.size("lines").cast("bigint").alias("n_lines_wire"),
            F.size("kept").cast("bigint").alias("n_lines_kept"),
            F.length(F.array_join("kept", "\n"))
            .cast("bigint")
            .alias("n_chars_clean"),
            F.substring(F.md5(F.array_join("kept", "\n")), 1, 16).alias(
                "clean_hash"
            ),
            F.when(F.size("kept") >= C4_MIN_LINES, F.lit("keep"))
            .otherwise(F.lit("drop"))
            .alias("verdict"),
        )
    )


# ---------------------------------------------------------------------------
# q139: BPE tokenizer TRAINING, three merges unrolled — the iterative
# extension of q121 (which counts one iteration's candidates): learn
# merge 1, respell the vocabulary, learn merge 2 from the respelled
# vocab, and so on (Sennrich et al. 2016). The corpus is touched ONCE
# (the wordcount); every iteration after that is vocab-sized — the
# property that makes BPE training feasible at 10^12 docs (q99's
# unrolled-iteration discipline).
#
# Merge application is the exact greedy left-to-right BPE rule,
# expressed as ONE string fold shared verbatim by both engines: the
# accumulator is the respelled prefix (space-joined symbols); a symbol
# x extends the last symbol (no space) iff x = R and the accumulator's
# last symbol = L. "last symbol = L" == ends_with(acc, ' ' || L) or
# acc = L — exact, because symbols never contain spaces.
BPE_MERGE_ITERS = 3

_BPE_FOLD_CASE = (
    "CASE WHEN x = {r} AND (acc = {l} OR ends_with(acc, ' ' || {l}))"
    " THEN acc || x"
    " WHEN acc = '' THEN x"
    " ELSE acc || ' ' || x END"
)


def _bpe_train_sql() -> str:
    head = """
    WITH words AS (
      SELECT unnest(string_split(lower(regexp_replace(
               text, '[^a-zA-Z ]', ' ', 'g')), ' ')) AS w
      FROM documents
    ), wc AS (
      SELECT w, COUNT(*) AS cnt FROM words
      WHERE w <> '' AND length(w) >= 2 GROUP BY w
    ), v0 AS (
      SELECT w, cnt,
             array_to_string(list_transform(range(1, length(w) + 1),
               i -> substr(w, CAST(i AS INT), 1)), ' ') AS sym
      FROM wc
    )"""
    its = []
    for i in range(1, BPE_MERGE_ITERS + 1):
        fold = _BPE_FOLD_CASE.format(l=f"t{i}.l", r=f"t{i}.r")
        its.append(f"""
    , p{i} AS (
      SELECT u.l AS l, u.r AS r, SUM(cnt) AS c
      FROM (SELECT cnt, unnest(list_transform(range(1, len(s)),
                     j -> {{'l': s[j], 'r': s[j + 1]}})) AS u
            FROM (SELECT cnt, string_split(sym, ' ') AS s FROM v{i - 1}))
      GROUP BY 1, 2
    ), t{i} AS (
      SELECT l, r, CAST(c AS BIGINT) AS c FROM (
        SELECT l, r, c,
               ROW_NUMBER() OVER (ORDER BY c DESC, l ASC, r ASC) AS rn
        FROM p{i}) WHERE rn = 1
    ), v{i} AS (
      SELECT w, cnt,
             list_reduce(list_prepend('', string_split(sym, ' ')),
               (acc, x) -> {fold}) AS sym
      FROM v{i - 1}, t{i}
    ), a{i} AS (
      SELECT CAST((SUM(cnt * len(string_split(sym, ' '))) * 1000)
                  // SUM(cnt) AS BIGINT) AS syms_e3
      FROM v{i}
    )""")
    unions = "\n    UNION ALL ".join(
        f"SELECT {i} AS iteration, t{i}.l AS merge_l, t{i}.r AS merge_r,"
        f" t{i}.c AS pair_count, a{i}.syms_e3 FROM t{i}, a{i}"
        for i in range(1, BPE_MERGE_ITERS + 1)
    )
    return head + "".join(its) + "\n    " + unions


@query("q139_bpe_train", _bpe_train_sql())
def q139(spark, sf_dir):
    """Three-iteration BPE training over the corpus vocabulary: per
    iteration, count frequency-weighted adjacent symbol pairs, pick the
    top pair (count desc, pair asc — q121's tiebreak), respell every
    vocab word with the greedy merge fold, and report (merge rule,
    its count, and the corpus-token-weighted symbols-per-word x1000
    after applying it — the compression curve tokenizer sizing reads).

    Spark shape: the ONLY corpus-scale stage is the q121 wordcount
    shuffle; each iteration is a vocab-sized pair agg + a 1-row
    broadcast (the chosen merge) + an in-row respell fold + a 1-row
    stats agg. The vocab is ``materialize``d per iteration (q112's
    discipline) so the corpus scan runs EXACTLY once (at the first
    checkpoint) — without it every union branch re-derives the whole
    lineage (measured: 28 Exchanges in the final plan vs 3 vocab-sized
    aggs with checkpoints). All arithmetic int64; the fold algebra is
    character-identical on both engines, so the learned merges are
    bit-equal by construction."""
    d = load(spark, sf_dir, "documents")
    toks = F.expr(
        "filter(split(lower(regexp_replace(text, '[^a-zA-Z ]', ' ')), ' '),"
        " w -> w <> '' AND length(w) >= 2)"
    )
    wc = (
        d.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    v = wc.select(
        "w",
        "cnt",
        F.expr(
            "array_join(transform(sequence(1, length(w)),"
            " i -> substring(w, i, 1)), ' ')"
        ).alias("sym"),
    ).transform(materialize)
    rows = []
    for i in range(1, BPE_MERGE_ITERS + 1):
        pairs = v.select(
            "cnt", F.split("sym", " ").alias("s")
        ).select(
            "cnt",
            # zip s with its own 1-shifted tail (padded with NULLs by
            # zip_with, filtered off) — safe for 1-symbol words where
            # sequence(1, 0) would infer a negative step and
            # element_at(s, 0) is an ANSI error
            F.explode(
                F.expr(
                    "filter(zip_with(s,"
                    " IF(size(s) > 1, slice(s, 2, size(s) - 1), array()),"
                    " (l, r) -> struct(l AS l, r AS r)),"
                    " p -> p.r IS NOT NULL)"
                )
            ).alias("p"),
        )
        pc = pairs.groupBy("p.l", "p.r").agg(
            F.sum("cnt").cast("bigint").alias("c")
        )
        top = (
            pc.orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .limit(1)
            .select(
                F.col("l").alias("ml"),
                F.col("r").alias("mr"),
                F.col("c").alias("mc"),
            )
        )
        fold = _BPE_FOLD_CASE.format(l="ml", r="mr").replace(
            "ends_with", "endswith"
        )
        v = v.crossJoin(F.broadcast(top)).select(
            "w",
            "cnt",
            F.expr(f"aggregate(split(sym, ' '), '', (acc, x) -> {fold})")
            .alias("sym"),
            "ml",
            "mr",
            "mc",
        ).transform(materialize)
        rows.append(
            v.agg(
                F.max("ml").alias("merge_l"),
                F.max("mr").alias("merge_r"),
                F.max("mc").alias("pair_count"),
                F.expr(
                    "cast((sum(cnt * size(split(sym, ' '))) * 1000)"
                    " div sum(cnt) as bigint)"
                ).alias("syms_e3"),
            ).select(
                F.lit(i).alias("iteration"),
                "merge_l",
                "merge_r",
                "pair_count",
                "syms_e3",
            )
        )
        v = v.drop("ml", "mr", "mc")
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


# ---------------------------------------------------------------------------
# q140: k-anonymity suppression for published reports — the governance
# rule that a released aggregate may not expose a cohort smaller than
# KANON_K (the PII-adjacent twin of q52's redaction: there the text is
# scrubbed, here the REPORT is): source x lang cells under the
# threshold are rolled into one '__redacted__' row per source, so the
# per-source totals are preserved while no small cohort is published.
KANON_K = 5


@query(
    "q140_kanon_report",
    f"""
    WITH cells AS (
      SELECT source, lang, COUNT(*) AS n
      FROM documents GROUP BY source, lang
    )
    SELECT source, lang, CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_cells
    FROM (SELECT source,
                 CASE WHEN n < {KANON_K} THEN '__redacted__' ELSE lang END
                   AS lang,
                 n
          FROM cells)
    GROUP BY source, lang
    """,
)
def q140(spark, sf_dir):
    """Publishable source x lang report with k-anonymity suppression:
    any cell counting fewer than KANON_K documents is folded into the
    per-source '__redacted__' row (n_cells says how many cells it
    absorbed), so column totals still reconcile but no small cohort is
    disclosed.

    Spark shape: the corpus-scale stage is one dimension-keyed hash agg
    (map-side partials); the suppression pass runs ON the cell relation
    (sources x langs rows) — scale-free. Note the residual-disclosure
    caveat: a redacted row that absorbed exactly one cell still reveals
    that cohort's size; production reports re-check the redacted row
    against the same threshold (documented, not applied — the oracle
    pins the single-pass rule)."""
    cells = (
        load(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count("*").alias("n"))
    )
    return (
        cells.select(
            "source",
            F.when(F.col("n") < KANON_K, F.lit("__redacted__"))
            .otherwise(F.col("lang"))
            .alias("lang"),
            "n",
        )
        .groupBy("source", "lang")
        .agg(
            F.sum("n").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_cells"),
        )
    )


# ---------------------------------------------------------------------------
# q141: German VAT-ID (USt-IdNr) checksum validation — ISO 7064
# MOD 11,10 over the first 8 digits determines the 9th (the algorithm
# published in the UStG implementing regs; the q115-IBAN pattern for a
# second identifier family). IDs are PLANTED deterministically by both
# engines (q100's discipline): 8 digits derived from doc_id, the
# correct check digit computed by the same fold, then every
# doc_id % 3 == 0 ID is corrupted by bumping the check digit — the
# validator must flag exactly those.
_VAT_FOLD = (
    "(2 * (CASE WHEN (x + acc) % 10 = 0 THEN 10"
    " ELSE (x + acc) % 10 END)) % 11"
)


@query(
    "q141_vat_checksum",
    f"""
    WITH base AS (
      SELECT doc_id, source,
             lpad(CAST(doc_id * 7919 % 100000000 AS VARCHAR), 8, '0')
               AS d8
      FROM documents
    ), chk AS (
      SELECT doc_id, source, d8,
             list_reduce(
               list_prepend(10, list_transform(range(1, 9),
                 i -> CAST(substr(d8, CAST(i AS INT), 1) AS BIGINT))),
               (acc, x) -> {_VAT_FOLD}) AS p
      FROM base
    ), ids AS (
      SELECT doc_id, source, d8,
             CASE WHEN 11 - p = 10 THEN 0 ELSE 11 - p END AS good_check,
             CASE WHEN doc_id % 3 = 0
                  THEN (CASE WHEN 11 - p = 10 THEN 0 ELSE 11 - p END + 1)
                       % 10
                  ELSE CASE WHEN 11 - p = 10 THEN 0 ELSE 11 - p END
             END AS used_check
      FROM chk
    )
    SELECT doc_id,
           'DE' || d8 || CAST(used_check AS VARCHAR) AS vat_id,
           CAST(used_check AS BIGINT) AS check_digit,
           CAST(good_check AS BIGINT) AS expected_check,
           used_check = good_check AS is_valid
    FROM ids
    """,
)
def q141(spark, sf_dir):
    """Validate planted German USt-IdNr identifiers: recompute the ISO
    7064 MOD 11,10 check digit from the ID's first 8 digits with an
    in-row integer fold and compare to the 9th digit; every
    doc_id % 3 == 0 ID was planted corrupted and must come back
    is_valid = false.

    Spark shape: strictly map-only — planting, the 8-step fold, and
    the comparison are higher-order integer expressions in one
    WholeStageCodegen pass; zero shuffles, zero Python, no float
    anywhere (the q115-IBAN discipline for exact identifier math at
    any corpus size)."""
    d = load(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.expr(
            "lpad(cast(doc_id * 7919 % 100000000 as string), 8, '0')"
        ).alias("d8"),
    )
    chk = base.select(
        "doc_id",
        "d8",
        F.expr(
            "aggregate(transform(sequence(1, 8),"
            " i -> cast(substring(d8, i, 1) as bigint)),"
            f" cast(10 as bigint), (acc, x) -> {_VAT_FOLD})"
        ).alias("p"),
    )
    ids = chk.select(
        "doc_id",
        "d8",
        F.expr("CASE WHEN 11 - p = 10 THEN 0 ELSE 11 - p END").alias(
            "good_check"
        ),
    ).select(
        "doc_id",
        "d8",
        "good_check",
        F.expr(
            "CASE WHEN doc_id % 3 = 0 THEN (good_check + 1) % 10"
            " ELSE good_check END"
        ).alias("used_check"),
    )
    return ids.select(
        "doc_id",
        F.concat(
            F.lit("DE"), F.col("d8"), F.col("used_check").cast("string")
        ).alias("vat_id"),
        F.col("used_check").cast("bigint").alias("check_digit"),
        F.col("good_check").cast("bigint").alias("expected_check"),
        (F.col("used_check") == F.col("good_check")).alias("is_valid"),
    )


# ---------------------------------------------------------------------------
# q142: verbatim shared-span detection — the exact-substring dedup
# family (Lee et al. 2022 "Deduplicating Training Data Makes Language
# Models Better" finds >=50-token verbatim runs with a suffix array;
# here the same detection is re-expressed RELATIONALLY): overlapping
# RUN_W-token window hashes, df-capped postings, a positional
# self-join, and the classic gaps-and-islands trick — two windows on
# the same (doc_a, doc_b) DIAGONAL (pa - pb constant) with consecutive
# pa values belong to one verbatim run, so the longest chain + W - 1
# is the longest shared token run. A re-crawl that copies the first
# RUN_PLANT tokens of every residue-0 document is planted (q101's
# discipline) so the detector has real prey.
RUN_W = 8
RUN_DF_CAP = 8  # q18's stop-shingle rule: drop grams in > CAP docs
RUN_MIN_TOKENS = 16
RUN_PLANT = 20  # tokens copied into each planted partial re-crawl

_RUN_GRAMS_SPARK = (
    f"slice(transform(sequence(1, greatest(size(toks) - {RUN_W} + 1, 1)),"
    f" i -> struct(i AS pos,"
    f" cast(conv(substring(md5(array_join(slice(toks, i, {RUN_W}), ' ')),"
    f" 1, 12), 16, 10) as bigint) AS g)),"
    f" 1, greatest(size(toks) - {RUN_W} + 1, 0))"
)


@query(
    "q142_shared_span_detect",
    f"""
    WITH crawl AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 200000 AS doc_id,
             array_to_string(list_slice(
               regexp_split_to_array(trim(text), '\\s+'),
               1, {RUN_PLANT}), ' ')
             || ' zzcopytail' || CAST(doc_id AS VARCHAR) || ' marker'
               AS text
      FROM documents WHERE doc_id % 9 = 0
    ), tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM crawl
    ), posting AS (
      SELECT doc_id, u.pos AS pos, u.g AS g FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(toks) - {RUN_W} + 1, 0) + 1),
                 i -> {{'pos': i,
                        'g': ('0x' || substr(md5(array_to_string(
                               list_slice(toks, i, i + {RUN_W} - 1), ' ')),
                               1, 12))::BIGINT}})) AS u
        FROM tok)
    ), df AS (
      SELECT g FROM (
        SELECT g, COUNT(*) AS nd
        FROM (SELECT DISTINCT g, doc_id FROM posting) GROUP BY g)
      WHERE nd BETWEEN 2 AND {RUN_DF_CAP}
    ), m AS (
      SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
      FROM posting a JOIN df USING (g)
      JOIN posting b ON b.g = a.g AND a.doc_id < b.doc_id
    ), isl AS (
      SELECT da, db, pa - pb AS diag, pa,
             pa - ROW_NUMBER() OVER (PARTITION BY da, db, pa - pb
                                     ORDER BY pa) AS grp
      FROM m
    ), chains AS (
      SELECT da, db, COUNT(*) AS chain
      FROM isl GROUP BY da, db, diag, grp
    ), best AS (
      SELECT da AS doc_a, db AS doc_b,
             CAST(MAX(chain) + {RUN_W} - 1 AS BIGINT)
               AS longest_run_tokens,
             CAST(SUM(chain) AS BIGINT) AS n_gram_matches
      FROM chains GROUP BY da, db
    )
    SELECT doc_a, doc_b, longest_run_tokens, n_gram_matches
    FROM best WHERE longest_run_tokens >= {RUN_MIN_TOKENS}
    """,
)
def q142(spark, sf_dir):
    """Find document pairs sharing a verbatim token run of at least
    RUN_MIN_TOKENS: overlapping RUN_W-gram hashes with positions,
    df-capped (2..RUN_DF_CAP docs) postings self-join, then
    gaps-and-islands per (pair, diagonal) — max chain + W - 1 = the
    longest verbatim overlap, the quantity suffix-array dedup pipelines
    extract before cutting shared spans.

    Spark shape: gram hashing is in-row (one map pass over the unioned
    crawl); the df-cap groupBy runs on DISTINCT (g, doc) rows (map-side
    partials) and kills stop-grams BEFORE the self-join — q18's
    scale-killer fix, bounding match fan-out at df_cap^2 per gram; the
    positional join shuffles on the 48-bit gram key; islands/chains are
    windows over MATCH rows only (never corpus rows). At 10^12 docs
    the staged-postings layout (operators/staged_dedup.py) makes the
    self-join bucket-local."""
    d = load(spark, sf_dir, "documents")
    recrawl = d.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(
            F.expr(
                f"array_join(slice(split(trim(text), '\\\\s+'), 1,"
                f" {RUN_PLANT}), ' ')"
            ),
            F.lit(" zzcopytail"),
            F.col("doc_id").cast("string"),
            F.lit(" marker"),
        ).alias("text"),
    )
    crawl = d.select("doc_id", "text").unionByName(recrawl)
    posting = (
        crawl.select(
            "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
        )
        .select("doc_id", F.explode(F.expr(_RUN_GRAMS_SPARK)).alias("u"))
        .select("doc_id", F.col("u.pos").alias("pos"), F.col("u.g").alias("g"))
    )
    df_ok = (
        posting.select("g", "doc_id")
        .distinct()
        .groupBy("g")
        .agg(F.count("*").alias("nd"))
        .filter(
            (F.col("nd") >= 2) & (F.col("nd") <= RUN_DF_CAP)
        )
        .select("g")
    )
    a = posting.join(df_ok, "g").select(
        "g",
        F.col("doc_id").alias("da"),
        F.col("pos").alias("pa"),
    )
    b = posting.select(
        "g",
        F.col("doc_id").alias("db"),
        F.col("pos").alias("pb"),
    )
    m = a.join(b, "g").filter(F.col("da") < F.col("db")).select(
        "da", "db", "pa", "pb"
    )
    wi = Window.partitionBy("da", "db", F.col("pa") - F.col("pb")).orderBy(
        "pa"
    )
    isl = m.select(
        "da",
        "db",
        (F.col("pa") - F.col("pb")).alias("diag"),
        "pa",
        (F.col("pa") - F.row_number().over(wi)).alias("grp"),
    )
    chains = isl.groupBy("da", "db", "diag", "grp").agg(
        F.count("*").alias("chain")
    )
    best = chains.groupBy(
        F.col("da").alias("doc_a"), F.col("db").alias("doc_b")
    ).agg(
        (F.max("chain") + F.lit(RUN_W - 1))
        .cast("bigint")
        .alias("longest_run_tokens"),
        F.sum("chain").cast("bigint").alias("n_gram_matches"),
    )
    return best.filter(F.col("longest_run_tokens") >= RUN_MIN_TOKENS)


# ---------------------------------------------------------------------------
# q143: dimension-truncation recall audit (Matryoshka / MRL-style
# deployment check): if the ANN tier kept only the first TRUNC_DIMS
# dimensions (64x->16x storage and bandwidth), how much of the exact
# full-dimension top-k survives? q86's audit discipline applied to the
# truncation decision q134's per-dimension moments inform.
TRUNC_DIMS = 16


@query(
    "q143_truncation_recall",
    _EMB_DIMS_CTE
    + f"""
    , tnorms AS (
      SELECT vec_id,
             sqrt(CAST(SUM(CAST(v * v AS DECIMAL(28,12))) AS DOUBLE)) AS nrm
      FROM dims WHERE pos <= {TRUNC_DIMS} GROUP BY vec_id
    ), fdots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(CAST(q.v * c.v AS DECIMAL(28,12))) AS DOUBLE) AS dot,
             CAST(SUM(CASE WHEN q.pos <= {TRUNC_DIMS}
                           THEN CAST(q.v * c.v AS DECIMAL(28,12))
                           ELSE CAST(0 AS DECIMAL(28,12)) END)
                  AS DOUBLE) AS tdot
      FROM dims q JOIN dims c
        ON q.pos = c.pos
       AND q.vec_id BETWEEN {IVF_N_CELLS} AND {IVF_N_CELLS + 4}
       AND c.vec_id >= {IVF_N_CELLS} AND c.vec_id <> q.vec_id
      GROUP BY 1, 2
    ), ranked AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY (floor(dot / (nq.nrm * nc.nrm) * 1000000.0)
                         / 1000000.0) DESC, neighbor_id ASC) AS rf,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY (floor(tdot / (tq.nrm * tc.nrm) * 1000000.0)
                         / 1000000.0) DESC, neighbor_id ASC) AS rt
      FROM fdots
      JOIN norms nq ON nq.vec_id = fdots.query_id
      JOIN norms nc ON nc.vec_id = fdots.neighbor_id
      JOIN tnorms tq ON tq.vec_id = fdots.query_id
      JOIN tnorms tc ON tc.vec_id = fdots.neighbor_id
    )
    SELECT t.query_id,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_matched,
           CAST(COUNT(a.neighbor_id) * 1000000 // {IVF_TOP_K} AS BIGINT)
             AS recall_ppm
    FROM (SELECT query_id, neighbor_id FROM ranked WHERE rf <= {IVF_TOP_K}) t
    LEFT JOIN (SELECT query_id, neighbor_id FROM ranked
               WHERE rt <= {IVF_TOP_K}) a
      ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
    GROUP BY 1
    """,
)
def q143(spark, sf_dir):
    """Per-query recall of TRUNC_DIMS-prefix cosine top-k against the
    exact full-dimension top-k, in exact integer ppm — the number that
    decides whether Matryoshka-style truncation is safe for the
    first-stage retriever (rerank the shortlist with full vectors if
    recall is high; keep full dims if not).

    Spark shape: ONE corpus map pass computes both the full and the
    truncated dot/norm in-row (the truncated sums are folds over
    slice(embedding, 1, TRUNC_DIMS)) against the 5 broadcast query
    vectors; two per-query top-k windows on the scored relation; the
    audit join runs on 5 x k rows. Exact-decimal sums, floor-ppm
    cosine, neighbor_id tiebreak — both rankings bit-stable
    cross-engine (q86's discipline)."""
    e = _load_embeddings(spark, sf_dir)
    corpus = e.filter(F.col("vec_id") >= IVF_N_CELLS).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        _nrm_dec(F.col("embedding")).alias("c_nrm"),
        _nrm_dec(F.expr(f"slice(embedding, 1, {TRUNC_DIMS})")).alias(
            "c_tnrm"
        ),
    )
    q = (
        e.filter(
            (F.col("vec_id") >= IVF_N_CELLS)
            & (F.col("vec_id") <= IVF_N_CELLS + 4)
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            _nrm_dec(F.col("embedding")).alias("q_nrm"),
            _nrm_dec(F.expr(f"slice(embedding, 1, {TRUNC_DIMS})")).alias(
                "q_tnrm"
            ),
        )
    )
    scored = corpus.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        (
            F.floor(
                _dot_dec(F.col("q_emb"), F.col("c_emb"))
                / (F.col("q_nrm") * F.col("c_nrm"))
                * 1000000.0
            )
            / 1000000.0
        ).alias("cos_f"),
        (
            F.floor(
                _dot_dec(
                    F.expr(f"slice(q_emb, 1, {TRUNC_DIMS})"),
                    F.expr(f"slice(c_emb, 1, {TRUNC_DIMS})"),
                )
                / (F.col("q_tnrm") * F.col("c_tnrm"))
                * 1000000.0
            )
            / 1000000.0
        ).alias("cos_t"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("cos_f"), F.asc("neighbor_id")
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.desc("cos_t"), F.asc("neighbor_id")
    )
    ranked = scored.select(
        "query_id",
        "neighbor_id",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wt).alias("rt"),
    )
    truth = ranked.filter(F.col("rf") <= IVF_TOP_K).select(
        "query_id", "neighbor_id"
    )
    trunc = ranked.filter(F.col("rt") <= IVF_TOP_K).select(
        F.col("query_id").alias("a_query"),
        F.col("neighbor_id").alias("a_neighbor"),
    )
    hits = truth.join(
        trunc,
        (F.col("a_query") == F.col("query_id"))
        & (F.col("a_neighbor") == F.col("neighbor_id")),
        "left",
    )
    return hits.groupBy("query_id").agg(
        F.count("a_neighbor").alias("n_matched"),
        F.expr(
            f"cast(count(a_neighbor) * 1000000 div {IVF_TOP_K} as bigint)"
        ).alias("recall_ppm"),
    )


# ---------------------------------------------------------------------------
# q144: Markov next-event evaluation — the train/eval split on top of
# q126's transition matrix: fit the matrix on even-hash users, predict
# each odd-hash user's next event as the argmax transition, and report
# per-state top-1 accuracy in exact ppm. This is the backtest that
# says whether the sequence model (recommendation prefetch, bot
# scoring) is better than chance BEFORE it ships; evaluation on the
# training users would leak, hence the user-keyed split (the q45/q114
# split discipline — sequences stay whole because the key is the
# partition key).


@query(
    "q144_markov_eval",
    """
    WITH ordered AS (
      SELECT user_id, user_id % 2 = 0 AS is_train,
             event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ), tr AS (
      SELECT user_id % 2 = 0 AS is_train, from_type, to_type
      FROM ordered
      WHERE to_type IS NOT NULL AND from_type IS NOT NULL
    ), model AS (
      SELECT from_type, to_type AS predicted FROM (
        SELECT from_type, to_type,
               ROW_NUMBER() OVER (PARTITION BY from_type
                                  ORDER BY COUNT(*) DESC, to_type ASC)
                 AS rn
        FROM tr WHERE is_train GROUP BY from_type, to_type)
      WHERE rn = 1
    )
    SELECT e.from_type,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(SUM(CASE WHEN e.to_type = m.predicted THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST((SUM(CASE WHEN e.to_type = m.predicted THEN 1 ELSE 0 END)
                 * 1000000) // COUNT(*) AS BIGINT) AS acc_ppm
    FROM (SELECT from_type, to_type FROM tr WHERE NOT is_train) e
    LEFT JOIN model m USING (from_type)
    GROUP BY e.from_type
    """,
)
def q144(spark, sf_dir):
    """Fit q126's first-order Markov model on the training half of the
    user population (user_id parity split), predict next events for
    the held-out half as the per-state argmax transition (count desc,
    type asc tiebreak), and report per-state evaluation counts and
    top-1 accuracy in exact integer ppm. A state never seen in
    training predicts NULL and scores as wrong — the honest rule.

    Spark shape: ONE corpus-scale window shuffle (user_id, q126's
    partitioning — bucketed events make it vanish); both the model fit
    and the accuracy roll-up run on types^2-sized relations with
    map-side partials; the model joins back by BROADCAST. No float:
    counts, ranks, and ppm only."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        ev.select(
            (F.col("user_id") % 2 == 0).alias("is_train"),
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull() & F.col("from_type").isNotNull())
    )
    wm = Window.partitionBy("from_type").orderBy(
        F.desc("cnt"), F.asc("to_type")
    )
    model = (
        tr.filter("is_train")
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select("from_type", F.col("to_type").alias("predicted"))
    )
    ev_half = tr.filter(~F.col("is_train")).select("from_type", "to_type")
    joined = ev_half.join(F.broadcast(model), "from_type", "left")
    correct = (F.col("to_type") == F.col("predicted")).cast("int")
    return joined.groupBy("from_type").agg(
        F.count("*").cast("bigint").alias("n_eval"),
        F.sum(F.coalesce(correct, F.lit(0))).cast("bigint").alias(
            "n_correct"
        ),
        F.expr(
            "cast((sum(coalesce(cast(to_type = predicted as int), 0))"
            " * 1000000) div count(*) as bigint)"
        ).alias("acc_ppm"),
    )


# ---------------------------------------------------------------------------
# q145: host blocklist filtering — the takedown/robots/safety-list
# gate every web pipeline applies right after q93's canonicalization
# (and the reason canonicalization exists: 'https://WWW.Src3.de/..'
# must hit a blocklist entry written as 'src3.de'). The list is a
# closed literal set here, so the verdict is a ZERO-shuffle in-row
# isin — the q84 "small side inlined" rule; a million-entry production
# list becomes q90's bloom-pruned semi join instead (documented trade:
# literal < broadcast join < bloom, by list size).
BLOCKED_HOSTS = ("src3.de", "src7.de", "src12.de", "src18.de")


@query(
    "q145_blocklist_filter",
    f"""
    WITH u AS (
      SELECT doc_id, {_url_expr('varchar')} AS url FROM documents
    ), h AS (
      SELECT doc_id,
             regexp_replace(lower(regexp_extract(url, '{_URL_HOST_PAT}', 1)),
                            '^www\\.', '') AS host
      FROM u
    )
    SELECT host,
           CASE WHEN host IN {BLOCKED_HOSTS!r} THEN 'blocked'
                ELSE 'kept' END AS verdict,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM h GROUP BY 1, 2
    """,
)
def q145(spark, sf_dir):
    """Apply the host blocklist to the corpus: canonicalize each
    document's host (q93's exact regexes), test membership against
    BLOCKED_HOSTS, and report per-host document counts with the
    blocked/kept verdict — the audit record a takedown run files.

    Spark shape: host extraction and the membership test are one
    map-only codegen pass (the blocklist is an isin literal — no join
    exists in the plan); the report is ONE hosts-sized hash agg with
    map-side partials. At a million-entry blocklist the literal
    becomes q90's bloom-pruned semi join; the verdict semantics stay
    identical."""
    d = load(spark, sf_dir, "documents")
    host = F.regexp_replace(
        F.lower(
            F.regexp_extract(F.expr(_url_expr("string")), _URL_HOST_PAT, 1)
        ),
        r"^www\.",
        "",
    )
    return (
        d.select(host.alias("host"))
        .select(
            "host",
            F.when(F.col("host").isin(*BLOCKED_HOSTS), F.lit("blocked"))
            .otherwise(F.lit("kept"))
            .alias("verdict"),
        )
        .groupBy("host", "verdict")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# q146: kNN-graph hubness audit — the reverse-neighbor degree
# histogram of the within-cell 1-NN graph. High-dimensional corpora
# grow "hubs" (vectors that are everyone's nearest neighbor), which
# silently poison kNN dedup/retrieval (Radovanovic et al. 2010); this
# is the diagnostic that says whether q135/q44's neighborhoods are
# trustworthy. Pair space is cell-bounded exactly like q135.


@query(
    "q146_knn_hubness",
    _EMB_DIMS_CTE
    + f"""
    , cents AS (SELECT vec_id AS cell, pos, v FROM dims
                WHERE vec_id < {IVF_N_CELLS}),
    dists AS (
      SELECT d.vec_id, c.cell,
             CAST(SUM(CAST((d.v - c.v) * (d.v - c.v) AS DECIMAL(28,12)))
                  AS DOUBLE) AS d2
      FROM dims d JOIN cents c ON c.pos = d.pos
      WHERE d.vec_id >= {IVF_N_CELLS}
      GROUP BY 1, 2
    ), assign AS (
      SELECT vec_id, cell
      FROM (SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2 ASC, cell ASC) AS rn
            FROM dists)
      WHERE rn = 1
    ), dots AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             CAST(SUM(CAST(da.v * db.v AS DECIMAL(28,12))) AS DOUBLE) AS dot
      FROM assign a JOIN assign b
           ON a.cell = b.cell AND a.vec_id <> b.vec_id
      JOIN dims da ON da.vec_id = a.vec_id
      JOIN dims db ON db.vec_id = b.vec_id AND db.pos = da.pos
      GROUP BY 1, 2
    ), nn AS (
      SELECT va, vb AS nn_id FROM (
        SELECT va, vb,
               ROW_NUMBER() OVER (
                 PARTITION BY va
                 ORDER BY (floor(dot / (na.nrm * nb.nrm) * 1000000.0)
                           / 1000000.0) DESC, vb ASC) AS rn
        FROM dots JOIN norms na ON na.vec_id = va
                  JOIN norms nb ON nb.vec_id = vb)
      WHERE rn = 1
    ), indeg AS (
      SELECT a.vec_id,
             COALESCE(r.cnt, 0) AS r
      FROM assign a
      LEFT JOIN (SELECT nn_id, COUNT(*) AS cnt FROM nn GROUP BY 1) r
        ON r.nn_id = a.vec_id
    )
    SELECT CAST(r AS BIGINT) AS in_degree,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM indeg GROUP BY r
    """,
)
def q146(spark, sf_dir):
    """Reverse-1NN degree histogram of the cell-bounded nearest-
    neighbor graph: for every corpus vector, find its exact-cosine
    nearest neighbor within its k-means cell (q135's pair space), then
    count how many vectors chose each vector, and publish the
    in-degree histogram — a heavy hub (large in_degree tail) is the
    smoking gun that cosine neighborhoods are concentrating and kNN
    verdicts need re-ranking or whitening (q136).

    Spark shape: identical pair bounds to q135 (cell equi-join, never
    all-pairs); the 1-NN selection is a per-vector window over the
    joined pairs; the in-degree roll-up and the histogram are
    vector-count-sized aggs with map-side partials. Exact-decimal
    cosine, floor-ppm, vb tiebreak — bit-stable cross-engine."""
    e = _load_embeddings(spark, sf_dir)
    cent_rows = _collect_vec_rows(e, IVF_N_CELLS)
    dist_arr = _cent_dist_arr(cent_rows)
    corpus = e.filter(F.col("vec_id") >= IVF_N_CELLS)
    asg = corpus.select(
        "vec_id",
        F.element_at(dist_arr, 1).getField("cell").alias("cell"),
        "embedding",
        _nrm_dec(F.col("embedding")).alias("nrm"),
    )
    a = asg.select(
        F.col("vec_id").alias("va"),
        "cell",
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = asg.select(
        F.col("vec_id").alias("vb"),
        "cell",
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cos = _floor6(
        _dot_dec(F.col("emb_a"), F.col("emb_b"))
        / (F.col("nrm_a") * F.col("nrm_b"))
    )
    wnn = Window.partitionBy("va").orderBy(F.desc("cos_sim"), F.asc("vb"))
    nn = (
        a.join(b, "cell")
        .filter(F.col("va") != F.col("vb"))
        .select("va", "vb", cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(wnn))
        .filter(F.col("rn") == 1)
        .select("va", F.col("vb").alias("nn_id"))
    )
    indeg = asg.select("vec_id").join(
        nn.groupBy("nn_id").agg(F.count("*").alias("cnt")),
        asg["vec_id"] == F.col("nn_id"),
        "left",
    ).select(F.coalesce("cnt", F.lit(0)).alias("r"))
    return indeg.groupBy("r").agg(
        F.count("*").cast("bigint").alias("n_vectors")
    ).select(F.col("r").cast("bigint").alias("in_degree"), "n_vectors")


# ---------------------------------------------------------------------------
# q147: class-centroid similarity matrix — per-label embedding
# centroids and every label pair's centroid cosine, the label-space
# audit that flags confusable/duplicate classes before embeddings are
# used for stratified sampling or classifier training (the SEMANTIC
# twin of q83's KMV lexical source-resemblance matrix). Labels form a
# closed small domain, so the matrix is labels^2-sized.


@query(
    "q147_label_centroid_matrix",
    f"""
    WITH dims AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
      WHERE len(embedding) > 0 AND vec_id >= {IVF_N_CELLS}
    ), cent AS (
      SELECT label, pos,
             CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
      FROM dims GROUP BY label, pos
    ), nrm AS (
      SELECT label,
             sqrt(CAST(SUM(CAST(m * m AS DECIMAL(28,12))) AS DOUBLE)) AS nrm
      FROM cent GROUP BY label
    ), dots AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(SUM(CAST(a.m * b.m AS DECIMAL(28,12))) AS DOUBLE) AS dot
      FROM cent a JOIN cent b
        ON a.pos = b.pos AND a.label < b.label
      GROUP BY 1, 2
    )
    SELECT label_a, label_b,
           floor(dot / (na.nrm * nb.nrm) * 1000000.0) / 1000000.0
             AS cos_e6
    FROM dots JOIN nrm na ON na.label = dots.label_a
              JOIN nrm nb ON nb.label = dots.label_b
    """,
)
def q147(spark, sf_dir):
    """Per-label centroid (exact-decimal per-dimension mean over the
    corpus domain, centroid seeds excluded) and the upper-triangle
    matrix of centroid cosines floored to e6 — two labels whose
    centroids approach cosine 1 are candidates for merging (duplicate
    classes) or evidence of label noise.

    Spark shape: ONE corpus-scale stage — the (label, dim)-keyed
    moments agg, whose key domain is labels x dims so map-side
    partials collapse each task to that constant — then the norm,
    pair-join, and cosine all run on labels- and labels^2-sized
    relations. Means are fixed-shape double expressions over exact
    DECIMAL sums; centroid products re-enter DECIMAL before the dot
    sum (the _fold_dec rule applied to the centroid relation)."""
    e = _load_embeddings(spark, sf_dir).filter(
        F.col("vec_id") >= IVF_N_CELLS
    )
    dims = e.select(
        "label", F.posexplode("embedding").alias("pos0", "v0")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.col("v0").cast("double").alias("v"),
    )
    cent = dims.groupBy("label", "pos").agg(
        (
            F.sum(F.col("v").cast("decimal(28,12)")).cast("double")
            / F.count("*")
        ).alias("m")
    )
    nrm = cent.groupBy("label").agg(
        F.sqrt(
            F.sum((F.col("m") * F.col("m")).cast("decimal(28,12)")).cast(
                "double"
            )
        ).alias("nrm")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "pos", F.col("m").alias("ma")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "pos", F.col("m").alias("mb")
    )
    dots = (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum((F.col("ma") * F.col("mb")).cast("decimal(28,12)"))
            .cast("double")
            .alias("dot")
        )
    )
    na = nrm.select(F.col("label").alias("label_a"), F.col("nrm").alias("na"))
    nb = nrm.select(F.col("label").alias("label_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            _floor6(F.col("dot") / (F.col("na") * F.col("nb"))).alias(
                "cos_e6"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q148: dedup-detector agreement — MinHash-LSH (q20) vs SimHash (q29)
# pair sets compared head-to-head: the ensemble audit a curation team
# runs before trusting either detector alone (the two families have
# DIFFERENT blind spots: MinHash sees set overlap, SimHash weighted
# bit agreement — disagreement localizes where thresholds are
# mis-calibrated, q98's per-pair calibration generalized to the
# detector level).


@query(
    "q148_detector_agreement",
    f"""
    WITH mh AS (
      SELECT doc_a, doc_b FROM ({ORACLES["q20_lsh_candidate_pairs"]})
    ), sh AS (
      SELECT doc_a, doc_b FROM ({ORACLES["q29_simhash_near_dups"]})
    ), j AS (
      SELECT COUNT(*) AS n_both
      FROM mh JOIN sh USING (doc_a, doc_b)
    )
    SELECT CAST((SELECT COUNT(*) FROM mh) AS BIGINT) AS n_minhash,
           CAST((SELECT COUNT(*) FROM sh) AS BIGINT) AS n_simhash,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(n_both * 1000000 //
                ((SELECT COUNT(*) FROM mh) + (SELECT COUNT(*) FROM sh)
                 - n_both) AS BIGINT) AS jaccard_ppm
    FROM j
    """,
)
def q148(spark, sf_dir):
    """One-row agreement report between the MinHash-LSH candidate
    pairs and the SimHash banded near-dup pairs over the same corpus:
    each detector's pair count, the intersection, and the exact-ppm
    Jaccard of the two pair sets.

    Spark shape: composes the two existing pipelines unchanged (their
    plans and bounds are audited at q20/q29); the agreement math runs
    on PAIR relations — a semi-join keyed by (doc_a, doc_b) and three
    scalar counts, all map-side-combining. At 10^12 docs both pair
    sets are banded/bucketed subsets, so the audit cost is the two
    detectors themselves, not the comparison."""
    mh = QUERIES["q20_lsh_candidate_pairs"](spark, sf_dir).select(
        "doc_a", "doc_b"
    ).transform(materialize)
    sh = QUERIES["q29_simhash_near_dups"](spark, sf_dir).select(
        "doc_a", "doc_b"
    ).transform(materialize)
    a = mh.agg(F.count("*").cast("bigint").alias("n_minhash"))
    b = sh.agg(F.count("*").cast("bigint").alias("n_simhash"))
    j = (
        mh.join(sh, ["doc_a", "doc_b"])
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    return (
        a.crossJoin(b)
        .crossJoin(j)
        .select(
            "n_minhash",
            "n_simhash",
            "n_both",
            F.expr(
                "cast(n_both * 1000000"
                " div (n_minhash + n_simhash - n_both) as bigint)"
            ).alias("jaccard_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# q149: quality-filter agreement with chance-corrected kappa — the two
# independent keep/drop filters (q56's hashed bag-of-words classifier,
# q92's char-bigram LM cost) compared as a 2x2 confusion matrix plus
# Cohen's kappa in EXACT integer arithmetic:
#   kappa = (n*Σdiag - Σ_i row_i*col_i) / (n^2 - Σ_i row_i*col_i)
# (the n^2-scaled cross-multiplied form of (po-pe)/(1-pe); every term
# is an integer, one floor-ppm division at the end). Raw agreement
# overstates filters that both keep almost everything — kappa is the
# number that says whether they actually measure the same thing.


@query(
    "q149_filter_kappa",
    f"""
    WITH verdicts AS (
      SELECT CASE WHEN ({_QC_WSUM_SQL} * 1000)
                       // len(toks) >= {QC_KEEP_E3}
                  THEN 1 ELSE 0 END AS va,
             CASE WHEN length(text) >= 2
                   AND (list_sum(list_transform(range(1, length(text)),
                        i -> {_lm_case('substring(text, CAST(i AS INT), 2)')}))
                        * 1000) // (length(text) - 1) <= {_LM_KEEP_E3}
                  THEN 1 ELSE 0 END AS vb
      FROM (SELECT text,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents)
    ), cm AS (
      SELECT CAST(SUM(va * vb) AS BIGINT) AS kk,
             CAST(SUM(va * (1 - vb)) AS BIGINT) AS kd,
             CAST(SUM((1 - va) * vb) AS BIGINT) AS dk,
             CAST(SUM((1 - va) * (1 - vb)) AS BIGINT) AS dd,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM verdicts
    )
    SELECT kk AS n_keep_keep, kd AS n_keep_drop,
           dk AS n_drop_keep, dd AS n_drop_drop,
           CAST((kk + dd) * 1000000 // n AS BIGINT) AS agree_ppm,
           CAST(CASE WHEN n * n
                          - ((kk + kd) * (kk + dk) + (dk + dd) * (kd + dd))
                          = 0
                     THEN 1000000
                     ELSE (n * (kk + dd)
                           - ((kk + kd) * (kk + dk) + (dk + dd) * (kd + dd)))
                          * 1000000
                          // (n * n
                              - ((kk + kd) * (kk + dk)
                                 + (dk + dd) * (kd + dd)))
                END AS BIGINT) AS kappa_ppm
    FROM cm
    """,
)
def q149(spark, sf_dir):
    """2x2 confusion matrix between the classifier filter (q56) and
    the LM-cost filter (q92) over the whole corpus, with raw agreement
    and Cohen's kappa, both in exact integer ppm. Docs too short for a
    bigram score count as LM-drop (q92's implicit domain, made
    explicit here so both filters cover every document).

    Spark shape: both verdicts are in-row map-only expressions (q56
    and q92 are zero-shuffle passes); the confusion matrix is ONE
    single-row hash agg; kappa is scalar arithmetic on that row. At
    corpus sizes past ~3e9 docs the n^2 term leaves int64 — the
    q77 widen rule applies (cast the kappa terms to DECIMAL(38,0));
    counts here are bounded by the fixture so int64 is exact.
    Floor-division ppm, no float anywhere."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "text", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    va = F.expr(
        f"CASE WHEN ({_QC_WSUM_SPARK} * 1000) div size(toks)"
        f" >= {QC_KEEP_E3} THEN 1 ELSE 0 END"
    )
    vb = F.expr(
        f"CASE WHEN length(text) >= 2 AND"
        f" (aggregate(transform(sequence(1, length(text) - 1),"
        f" i -> {_lm_case('substring(text, i, 2)')}),"
        f" cast(0 as bigint), (a, x) -> a + x) * 1000)"
        f" div (length(text) - 1) <= {_LM_KEEP_E3}"
        f" THEN 1 ELSE 0 END"
    )
    cm = d.select(va.alias("va"), vb.alias("vb")).agg(
        F.sum(F.expr("va * vb")).cast("bigint").alias("kk"),
        F.sum(F.expr("va * (1 - vb)")).cast("bigint").alias("kd"),
        F.sum(F.expr("(1 - va) * vb")).cast("bigint").alias("dk"),
        F.sum(F.expr("(1 - va) * (1 - vb)")).cast("bigint").alias("dd"),
        F.count("*").cast("bigint").alias("n"),
    )
    return cm.select(
        F.col("kk").alias("n_keep_keep"),
        F.col("kd").alias("n_keep_drop"),
        F.col("dk").alias("n_drop_keep"),
        F.col("dd").alias("n_drop_drop"),
        F.expr("(kk + dd) * 1000000 div n").cast("bigint").alias(
            "agree_ppm"
        ),
        # degenerate marginals (pe = 1, e.g. both filters unanimous)
        # zero the denominator: define kappa = 1e6 there, identically
        # on both engines (ANSI div would otherwise error)
        F.expr(
            "CASE WHEN n * n"
            " - ((kk + kd) * (kk + dk) + (dk + dd) * (kd + dd)) = 0"
            " THEN 1000000"
            " ELSE (n * (kk + dd)"
            " - ((kk + kd) * (kk + dk) + (dk + dd) * (kd + dd)))"
            " * 1000000"
            " div (n * n - ((kk + kd) * (kk + dk) + (dk + dd) * (kd + dd)))"
            " END"
        )
        .cast("bigint")
        .alias("kappa_ppm"),
    )


# ---------------------------------------------------------------------------
# q150: exact Spearman rank correlation WITHOUT a global sort — does
# document length predict classifier quality, per language? Ranks are
# derived from VALUE HISTOGRAMS (the q57/q88 machinery): the average
# rank of value v is cum_before(v) + (cnt(v) + 1)/2, so DOUBLED ranks
# (2*cum + cnt + 1) stay integers and tie handling is exact. Spearman
# is then Pearson over the doubled ranks — scale-invariant, so the
# doubling cancels — computed from six exact DECIMAL(38,0) sums with
# ONE double division at the end (the q125 fixed-tree rule). NTILE or
# row_number ranking would need a per-lang global sort and would split
# ties arbitrarily; the histogram route needs two value-domain-sized
# aggs and two broadcast joins.


@query(
    "q150_spearman_length_quality",
    f"""
    WITH scored AS (
      SELECT lang, n_chars AS x,
             CAST(({_QC_WSUM_SQL} * 1000) // len(toks) AS BIGINT) AS y
      FROM (SELECT lang, n_chars,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents)
    ), hx AS (
      SELECT lang, x, COUNT(*) AS cnt,
             2 * COALESCE(SUM(COUNT(*)) OVER (PARTITION BY lang ORDER BY x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + COUNT(*) + 1 AS d2rx
      FROM scored GROUP BY lang, x
    ), hy AS (
      SELECT lang, y, COUNT(*) AS cnt,
             2 * COALESCE(SUM(COUNT(*)) OVER (PARTITION BY lang ORDER BY y
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + COUNT(*) + 1 AS d2ry
      FROM scored GROUP BY lang, y
    ), ranked AS (
      SELECT s.lang,
             CAST(hx.d2rx AS DECIMAL(38,0)) AS rx,
             CAST(hy.d2ry AS DECIMAL(38,0)) AS ry
      FROM scored s
      JOIN hx ON hx.lang = s.lang AND hx.x = s.x
      JOIN hy ON hy.lang = s.lang AND hy.y = s.y
    ), sums AS (
      SELECT lang, CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             SUM(rx) AS sx, SUM(ry) AS sy,
             SUM(rx * ry) AS sxy, SUM(rx * rx) AS sx2,
             SUM(ry * ry) AS sy2
      FROM ranked GROUP BY lang
    )
    SELECT lang, CAST(n AS BIGINT) AS n_docs,
           CASE WHEN n * sx2 - sx * sx = 0 OR n * sy2 - sy * sy = 0
                THEN 0.0
                ELSE floor(CAST(n * sxy - sx * sy AS DOUBLE)
                           / (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE))
                              * sqrt(CAST(n * sy2 - sy * sy AS DOUBLE)))
                           * 1000000.0) / 1000000.0
           END AS rho_e6
    FROM sums
    """,
)
def q150(spark, sf_dir):
    """Per-language Spearman rho between document length (n_chars) and
    the q56 classifier score, floored to e6. Constant columns (zero
    rank variance) define rho = 0 on both engines.

    Spark shape: the corpus is touched twice — once to build the two
    per-lang VALUE histograms (key domain = distinct values, map-side
    partials), once to join the two broadcast rank maps back and
    aggregate six exact decimal sums per lang. The rank windows run on
    histogram rows, never corpus rows — there is NO global sort at any
    size. DECIMAL(38,0) sums because n * Σ(4n^2-scaled products)
    leaves int64 past ~1e5 rows per group (the q77 widen rule); the
    single num/(sqrt*sqrt) double expression is the identical tree on
    both engines (q125)."""
    d = load(spark, sf_dir, "documents").select(
        "lang",
        F.col("n_chars").alias("x"),
        F.split(F.trim("text"), r"\s+").alias("toks"),
    )
    scored = d.select(
        "lang",
        "x",
        F.expr(f"cast(({_QC_WSUM_SPARK} * 1000) div size(toks) as bigint)")
        .alias("y"),
    )

    def rankmap(col):
        wcum = (
            Window.partitionBy("lang")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return (
            scored.groupBy("lang", col)
            .agg(F.count("*").alias("cnt"))
            .select(
                "lang",
                col,
                (
                    F.lit(2) * F.coalesce(F.sum("cnt").over(wcum), F.lit(0))
                    + F.col("cnt")
                    + 1
                ).alias(f"d2r{col}"),
            )
        )
    hx = rankmap("x")
    hy = rankmap("y")
    ranked = (
        scored.join(F.broadcast(hx), ["lang", "x"])
        .join(F.broadcast(hy), ["lang", "y"])
        .select(
            "lang",
            F.col("d2rx").cast("decimal(38,0)").alias("rx"),
            F.col("d2ry").cast("decimal(38,0)").alias("ry"),
        )
    )
    sums = ranked.groupBy("lang").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.expr("rx * ry")).alias("sxy"),
        F.sum(F.expr("rx * rx")).alias("sx2"),
        F.sum(F.expr("ry * ry")).alias("sy2"),
    )
    return sums.select(
        "lang",
        F.col("n").cast("bigint").alias("n_docs"),
        F.expr(
            "CASE WHEN n * sx2 - sx * sx = 0 OR n * sy2 - sy * sy = 0"
            " THEN 0.0D"
            " ELSE floor(CAST(n * sxy - sx * sy AS DOUBLE)"
            " / (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE))"
            " * sqrt(CAST(n * sy2 - sy * sy AS DOUBLE)))"
            " * 1000000.0) / 1000000.0 END"
        ).alias("rho_e6"),
    )


# ---------------------------------------------------------------------------
# q151: exact ROC-AUC without sorting the corpus — how well does raw
# document LENGTH alone predict the q56 quality filter's keep/drop
# verdict? (A high AUC means the "model-based" filter is mostly a
# length filter — a standard curation audit before trusting a
# classifier.) AUC is the Mann-Whitney U statistic normalized by
# n_keep*n_drop; midranks come from the q150 value-histogram doubled
# ranks, so ties get exact 0.5 credit and no global sort ever runs:
# AUC = (sum(d2r over keeps) - n1*(n1+1)) / (2*n1*n0).


@query(
    "q151_length_auc",
    f"""
    WITH scored AS (
      SELECT lang, n_chars AS x,
             CASE WHEN CAST(({_QC_WSUM_SQL} * 1000) // len(toks) AS BIGINT)
                       >= {QC_KEEP_E3}
                  THEN 1 ELSE 0 END AS pos
      FROM (SELECT lang, n_chars,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents)
    ), hx AS (
      SELECT lang, x, COUNT(*) AS cnt,
             2 * COALESCE(SUM(COUNT(*)) OVER (PARTITION BY lang ORDER BY x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + COUNT(*) + 1 AS d2rx
      FROM scored GROUP BY lang, x
    ), agg AS (
      SELECT s.lang,
             CAST(SUM(s.pos) AS DECIMAL(38,0)) AS n1,
             CAST(SUM(1 - s.pos) AS DECIMAL(38,0)) AS n0,
             SUM(CASE WHEN s.pos = 1 THEN CAST(hx.d2rx AS DECIMAL(38,0))
                      ELSE CAST(0 AS DECIMAL(38,0)) END) AS s1
      FROM scored s JOIN hx ON hx.lang = s.lang AND hx.x = s.x
      GROUP BY s.lang
    )
    SELECT lang, CAST(n1 AS BIGINT) AS n_keep, CAST(n0 AS BIGINT) AS n_drop,
           CASE WHEN n1 = 0 OR n0 = 0 THEN 0.0
                ELSE floor(CAST(s1 - n1 * (n1 + 1) AS DOUBLE)
                           / CAST(2 * n1 * n0 AS DOUBLE)
                           * 1000000.0) / 1000000.0
           END AS auc_e6
    FROM agg
    """,
)
def q151(spark, sf_dir):
    """Per-language exact ROC-AUC of n_chars as a predictor of the q56
    keep verdict (Mann-Whitney / rank-sum form), floored to e6. A
    degenerate class (all-keep or all-drop) defines AUC = 0 on both
    engines.

    Spark shape: the label is the same map-only hashed-weight
    expression q56 uses (lockstep by construction — `_QC_WSUM_SPARK`
    is shared, the q53/q61 convention), so scoring adds zero shuffles.
    Ranks come from ONE per-(lang, n_chars) value histogram (map-side
    partial agg; the window runs over histogram rows, never corpus
    rows) broadcast-joined back — the same two-touch plan as q150,
    with one fewer rank map because only the x side needs ranks. All
    rank mass is summed in DECIMAL(38,0) (sum(d2r) <= n*(2n+1), past
    int64 at ~10^9 rows — the q77 widen rule); the single num/den
    division is one scale-0-decimal->double cast per operand, which
    both engines round identically (one rounding from the exact
    integer — the q01 instability needs a scaled decimal)."""
    d = load(spark, sf_dir, "documents").select(
        "lang",
        F.col("n_chars").alias("x"),
        F.split(F.trim("text"), r"\s+").alias("toks"),
    )
    scored = d.select(
        "lang",
        "x",
        F.expr(
            f"IF(cast(({_QC_WSUM_SPARK} * 1000) div size(toks) as bigint)"
            f" >= {QC_KEEP_E3}, 1, 0)"
        ).alias("pos"),
    )
    wcum = (
        Window.partitionBy("lang")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hx = (
        scored.groupBy("lang", "x")
        .agg(F.count("*").alias("cnt"))
        .select(
            "lang",
            "x",
            (
                F.lit(2) * F.coalesce(F.sum("cnt").over(wcum), F.lit(0))
                + F.col("cnt")
                + 1
            ).alias("d2rx"),
        )
    )
    agg = (
        scored.join(F.broadcast(hx), ["lang", "x"])
        .groupBy("lang")
        .agg(
            F.sum("pos").cast("decimal(38,0)").alias("n1"),
            F.sum(F.lit(1) - F.col("pos")).cast("decimal(38,0)").alias("n0"),
            F.sum(
                F.when(
                    F.col("pos") == 1, F.col("d2rx").cast("decimal(38,0)")
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("s1"),
        )
    )
    return agg.select(
        "lang",
        F.col("n1").cast("bigint").alias("n_keep"),
        F.col("n0").cast("bigint").alias("n_drop"),
        F.expr(
            "CASE WHEN n1 = 0 OR n0 = 0 THEN 0.0D"
            " ELSE floor(CAST(s1 - n1 * (n1 + 1) AS DOUBLE)"
            " / CAST(2 * n1 * n0 AS DOUBLE)"
            " * 1000000.0) / 1000000.0 END"
        ).alias("auc_e6"),
    )


# ---------------------------------------------------------------------------
# q152: autocorrelation of the hourly ingest rate — the diagnostic
# behind "is our event volume periodic or trending?" that sizes
# streaming windows and anomaly baselines (q79). ACF at lag k is the
# Pearson correlation of the DENSE hourly count series against itself
# shifted by k hours; silent hours MUST be explicit zeros (the q68
# gap-fill) or every gap silently splices distant hours together.


@query(
    "q152_event_acf",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n
      FROM events GROUP BY 1
    ), b AS (
      SELECT date_trunc('hour', MIN(ts)) AS h0,
             date_trunc('hour', MAX(ts)) AS h1
      FROM events
    ), grid AS (
      SELECT unnest(generate_series((SELECT h0 FROM b), (SELECT h1 FROM b),
                                    INTERVAL 1 HOUR)) AS h
    ), dense AS (
      SELECT ROW_NUMBER() OVER (ORDER BY g.h) AS t,
             CAST(coalesce(hh.n, 0) AS DECIMAL(38,0)) AS x
      FROM grid g LEFT JOIN hourly hh ON hh.h = g.h
    ), pairs AS (
      SELECT k.k, d1.x AS x, d2.x AS y
      FROM (VALUES (1), (2), (3)) k(k)
      JOIN dense d1 ON TRUE
      JOIN dense d2 ON d2.t = d1.t + k.k
    ), sums AS (
      SELECT k, CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sx2, SUM(y * y) AS sy2
      FROM pairs GROUP BY k
    )
    SELECT CAST(k AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
           CASE WHEN n * sx2 - sx * sx = 0 OR n * sy2 - sy * sy = 0
                THEN 0.0
                ELSE floor(CAST(n * sxy - sx * sy AS DOUBLE)
                           / (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE))
                              * sqrt(CAST(n * sy2 - sy * sy AS DOUBLE)))
                           * 1000000.0) / 1000000.0
           END AS acf_e6
    FROM sums
    ORDER BY lag
    """,
)
def q152(spark, sf_dir):
    """Sample autocorrelation of the dense hourly event-count series at
    lags 1-3 (Pearson over lagged pairs — the cross-lag-correlation
    variant, each lag normalized by its own pair moments), floored to
    e6. Constant series define acf = 0 on both engines.

    Spark shape: the only corpus-sized work is ONE map-side-combining
    groupBy to hourly counts; everything after runs on the dense grid,
    whose size is hours-between-bounds — independent of event count
    (~10^5 rows for a decade), so the global-order row_number window
    and the broadcast lag self-join are bounded by construction (the
    q68 generated-grid rule). Counts are summed as DECIMAL(38,0)
    (n * sum(x^2) passes int64 once hourly rates reach ~10^5 — the q77
    widen rule) with the single q125 fixed-tree double division at the
    end."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count("*").alias("n")
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h")
    )
    dense = (
        grid.join(hourly, "h", "left")
        .select(
            F.row_number().over(Window.orderBy("h")).alias("t"),
            F.coalesce(F.col("n"), F.lit(0)).cast("decimal(38,0)").alias("x"),
        )
    )
    lags = spark.range(1, 4).select(F.col("id").alias("k"))
    d2 = dense.select(F.col("t").alias("t2"), F.col("x").alias("y"))
    pairs = (
        lags.crossJoin(dense)
        .join(F.broadcast(d2), F.col("t2") == F.col("t") + F.col("k"))
    )
    sums = pairs.groupBy("k").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sx2"),
        F.sum(F.expr("y * y")).alias("sy2"),
    )
    return (
        sums.select(
            F.col("k").cast("bigint").alias("lag"),
            F.col("n").cast("bigint").alias("n_pairs"),
            F.expr(
                "CASE WHEN n * sx2 - sx * sx = 0 OR n * sy2 - sy * sy = 0"
                " THEN 0.0D"
                " ELSE floor(CAST(n * sxy - sx * sy AS DOUBLE)"
                " / (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE))"
                " * sqrt(CAST(n * sy2 - sy * sy AS DOUBLE)))"
                " * 1000000.0) / 1000000.0 END"
            ).alias("acf_e6"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# q153: Benford first-digit audit over order totals — the classic
# synthetic-data / fraud / unit-mixup detector: naturally-grown
# multiplicative amounts follow P(d) = log10(1 + 1/d); flat or spiky
# digit histograms flag generated or corrupted batches. No float log
# is ever computed (the q92/q122 rule: ln/log10 are not correctly
# rounded on either engine) — the nine Benford probabilities are
# PPM LITERALS, and the first digit comes from the decimal's exact
# integer-cents string, not from floor(log10(x)).

# floor(log10(1 + 1/d) * 1e6) for d = 1..9 (sums to 999,995 ppm)
_BENFORD_PPM = [301029, 176091, 124938, 96910, 79181, 66946, 57991,
                51152, 45757]
_BENFORD_SQL_VALUES = ", ".join(
    f"({d + 1}, {p})" for d, p in enumerate(_BENFORD_PPM)
)


@query(
    "q153_benford_audit",
    f"""
    WITH obs AS (
      SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit,
             COUNT(*) AS n
      FROM orders
      WHERE o_totalprice > 0
      GROUP BY 1
    ), tot AS (SELECT SUM(n) AS n_total FROM obs),
    bf AS (SELECT * FROM (VALUES {_BENFORD_SQL_VALUES}) AS t(digit, ppm))
    SELECT bf.digit, CAST(coalesce(obs.n, 0) AS BIGINT) AS n,
           CAST(coalesce(obs.n, 0) * 1000000 // (SELECT n_total FROM tot)
                AS BIGINT) AS obs_ppm,
           CAST(bf.ppm AS BIGINT) AS benford_ppm,
           CAST(abs(coalesce(obs.n, 0) * 1000000
                    // (SELECT n_total FROM tot) - bf.ppm) AS BIGINT)
             AS dev_ppm
    FROM bf LEFT JOIN obs ON obs.digit = bf.digit
    ORDER BY bf.digit
    """,
)
def q153(spark, sf_dir):
    """First-significant-digit histogram of o_totalprice vs the Benford
    expectation, in exact ppm. All nine digits are emitted (zero counts
    explicit — the q68 generated-dimension rule), deviation is exact
    integer |obs_ppm - benford_ppm|.

    Spark shape: one map pass (exact e2 quantization to integer cents,
    first digit via the bigint's canonical string — both engines print
    int64 identically, unlike decimal/double formatting) + a 9-group
    map-side-combining agg + a broadcast join against the generated
    digit dimension. The single-row total is a broadcast scalar, not a
    collect. Zero floats anywhere."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    obs = (
        o.select(
            F.expr(
                "cast(substring(cast(cast(round(o_totalprice * 100) as"
                " bigint) as string), 1, 1) as bigint)"
            ).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    tot = obs.agg(F.sum("n").alias("n_total"))
    bf = spark.createDataFrame(
        [(d + 1, p) for d, p in enumerate(_BENFORD_PPM)], "digit long, ppm long"
    )
    return (
        bf.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
            F.expr("coalesce(n, 0) * 1000000 div n_total")
            .cast("bigint")
            .alias("obs_ppm"),
            F.col("ppm").cast("bigint").alias("benford_ppm"),
            F.expr("abs(coalesce(n, 0) * 1000000 div n_total - ppm)")
            .cast("bigint")
            .alias("dev_ppm"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# q154: Gini coefficient of document length per language — the
# inequality audit behind "is the corpus's character mass concentrated
# in a few giant documents?" (drives chunking and sampling decisions;
# a length Gini near 1 means token budgets are dominated by outliers).
# Exact, with NO global sort: Gini = (2*S - (n+1)*T) / (n*T) where
# S = sum over ASCENDING-sorted docs of rank*length. The histogram
# supplies S in closed form: a value v with count c and cum-before C
# occupies ranks C+1..C+c, contributing v*(c*C + c*(c+1)/2).


@query(
    "q154_length_gini",
    """
    WITH h AS (
      SELECT lang, n_chars AS v, COUNT(*) AS c,
             COALESCE(SUM(COUNT(*)) OVER (PARTITION BY lang ORDER BY n_chars
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM documents GROUP BY lang, n_chars
    ), agg AS (
      SELECT lang,
             CAST(SUM(c) AS DECIMAL(38,0)) AS n,
             SUM(CAST(v AS DECIMAL(38,0)) * c) AS t,
             SUM(CAST(v AS DECIMAL(38,0))
                 * (CAST(c AS DECIMAL(38,0)) * cb + c * (c + 1) // 2)) AS s
      FROM h GROUP BY lang
    )
    SELECT lang, CAST(n AS BIGINT) AS n_docs,
           CAST(t AS BIGINT) AS total_chars,
           CASE WHEN n = 0 OR t = 0 THEN 0.0
                ELSE floor(CAST(2 * s - (n + 1) * t AS DOUBLE)
                           / CAST(n * t AS DOUBLE)
                           * 1000000.0) / 1000000.0
           END AS gini_e6
    FROM agg
    """,
)
def q154(spark, sf_dir):
    """Per-language exact Gini of n_chars, floored to e6 (empty or
    all-zero-length groups define Gini = 0 on both engines).

    Spark shape: ONE per-(lang, n_chars) histogram groupBy (map-side
    partials collapse the corpus to distinct lengths per lang), the
    cumulative window runs on HISTOGRAM rows, and the per-lang closed-
    form rank-mass agg is histogram-sized too — the corpus is scanned
    exactly once and nothing is ever globally sorted (the q150/q57
    value-histogram rule). S <= v_max * n^2 passes int64 around 10^7
    docs, so all mass is DECIMAL(38,0) (q77 widen rule); the final
    division is the single q125 fixed tree over scale-0
    decimal->double casts (single-rounding on both engines)."""
    d = load(spark, sf_dir, "documents")
    wcum = (
        Window.partitionBy("lang")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    h = (
        d.groupBy("lang", F.col("n_chars").alias("v"))
        .agg(F.count("*").alias("c"))
        .select(
            "lang",
            "v",
            "c",
            F.coalesce(F.sum("c").over(wcum), F.lit(0)).alias("cb"),
        )
    )
    agg = h.groupBy("lang").agg(
        F.sum("c").cast("decimal(38,0)").alias("n"),
        F.sum(F.expr("cast(v as decimal(38,0)) * c")).alias("t"),
        F.sum(
            F.expr(
                "cast(v as decimal(38,0)) * (cast(c as decimal(38,0)) * cb"
                " + c * (c + 1) div 2)"
            )
        ).alias("s"),
    )
    return agg.select(
        "lang",
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("t").cast("bigint").alias("total_chars"),
        F.expr(
            "CASE WHEN n = 0 OR t = 0 THEN 0.0D"
            " ELSE floor(CAST(2 * s - (n + 1) * t AS DOUBLE)"
            " / CAST(n * t AS DOUBLE)"
            " * 1000000.0) / 1000000.0 END"
        ).alias("gini_e6"),
    )


# ---------------------------------------------------------------------------
# q155: trailing-24-hour per-user activity via a RANGE window frame —
# the value-based frame the suite's windows don't otherwise exercise
# (q07 is ROWS-based, q37/q68 are tumbling buckets). RANGE frames are
# how rate limits, rolling quotas, and "events in the last N hours"
# features are expressed without a self-join; the frame is defined on
# the ORDER value (epoch microseconds), so tie order never matters.


@query(
    "q155_trailing_24h",
    """
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_24h,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
             AS val_24h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
    """,
)
def q155(spark, sf_dir):
    """Per-event trailing-24h event count and value sum for the event's
    user (inclusive frame [t - 24h, t] in microseconds).

    Spark shape: ONE window shuffle on user_id (vanishes over a layout
    bucketed by user — the q144 note) with a value-RANGE frame over the
    bigint microsecond key; peers (equal timestamps) are in or out of
    the frame by VALUE, so the result is deterministic without a
    tiebreak even though the sort isn't unique. The inner sum is
    DECIMAL(18,6) (exact, order-independent) cast to double once per
    row — never a running double sum. The microsecond key is derived
    with timestampdiff from a fixed NTZ epoch (the fixture's ts is
    TIMESTAMP_NTZ; unix_micros would force a timezone-dependent
    cast)."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            )
        )
        .rangeBetween(-86400000000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).cast("bigint").alias("n_24h"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("val_24h"),
    )


# ---------------------------------------------------------------------------
# q156: association rules over user event baskets (market-basket
# analysis): for every ordered event-type pair, exact support,
# confidence, and lift in ppm — the co-engagement report behind
# "users who search also export". The basket relation is the DISTINCT
# (user, type) projection, so metrics are user-set-based (a user
# counts once however often they fire the event).


@query(
    "q156_assoc_rules",
    """
    WITH b AS (SELECT DISTINCT user_id, event_type FROM events),
    u AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM events),
    item AS (SELECT event_type, COUNT(*) AS n FROM b GROUP BY 1),
    pair AS (
      SELECT b1.event_type AS antecedent, b2.event_type AS consequent,
             COUNT(*) AS n_ab
      FROM b b1 JOIN b b2 ON b2.user_id = b1.user_id
                         AND b1.event_type <> b2.event_type
      GROUP BY 1, 2
    )
    SELECT p.antecedent, p.consequent, CAST(p.n_ab AS BIGINT) AS n_both,
           CAST(p.n_ab * 1000000 // (SELECT n_users FROM u) AS BIGINT)
             AS support_ppm,
           CAST(p.n_ab * 1000000 // ia.n AS BIGINT) AS confidence_ppm,
           CAST(p.n_ab * 1000000 * (SELECT n_users FROM u)
                // (ia.n * ic.n) AS BIGINT) AS lift_e6
    FROM pair p
    JOIN item ia ON ia.event_type = p.antecedent
    JOIN item ic ON ic.event_type = p.consequent
    """,
)
def q156(spark, sf_dir):
    """Ordered-pair association rules A -> B over user baskets:
    support = n(A and B)/n_users, confidence = n(A and B)/n(A),
    lift = n(A and B)*n_users/(n(A)*n(B)), all exact integer ppm
    (lift_e6 = 1e6 is independence).

    Spark shape: the corpus is collapsed ONCE to per-user type sets
    (collect_set groupBy — the single corpus-sized shuffle, map-side
    partial; set size is bounded by the type domain), materialized with
    materialize (the q42 idiom) because three derivations read it.
    Pairs come from an IN-ROW double explode of each user's set (no
    self-join exists in the plan; fan-out is types^2 per user, never
    event-count), item counts from one explode, n_users from a count —
    all user- or types-sized aggs. All metric arithmetic is int64:
    n_ab * 1e6 * n_users passes 2^63 once n_users * n_ab > ~9e12 — at
    that scale widen the three products to DECIMAL(38,0) and replace
    the final `div` with a two-step exact reduction (Spark's decimal
    `div` wraps at 38 digits and DuckDB's `//` on decimals goes
    through double — verified, so the widen is NOT a drop-in; the q77
    note)."""
    ev = load(spark, sf_dir, "events")
    sets = (
        ev.groupBy("user_id")
        .agg(F.collect_set("event_type").alias("types"))
        .transform(materialize)
    )
    u = sets.agg(F.count("*").alias("n_users"))
    item = (
        sets.select(F.explode("types").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    pair = (
        sets.select(F.explode("types").alias("antecedent"), "types")
        .select("antecedent", F.explode("types").alias("consequent"))
        .filter(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count("*").alias("n_ab"))
    )
    ia = item.select(
        F.col("event_type").alias("antecedent"), F.col("n").alias("n_a")
    )
    ic = item.select(
        F.col("event_type").alias("consequent"), F.col("n").alias("n_c")
    )
    return (
        pair.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ic), "consequent")
        .crossJoin(F.broadcast(u))
        .select(
            "antecedent",
            "consequent",
            F.col("n_ab").cast("bigint").alias("n_both"),
            F.expr("n_ab * 1000000 div n_users")
            .cast("bigint")
            .alias("support_ppm"),
            F.expr("n_ab * 1000000 div n_a")
            .cast("bigint")
            .alias("confidence_ppm"),
            F.expr("n_ab * 1000000 * n_users div (n_a * n_c)")
            .cast("bigint")
            .alias("lift_e6"),
        )
    )


# ---------------------------------------------------------------------------
# q157: SCD-type-2 dimension build (gaps-and-islands): collapse each
# user's event stream into validity intervals of their CURRENT state
# (consecutive equal event_types become one row with
# [valid_from, valid_to)), the standard warehouse shape for "what was
# this user doing at time t" point-in-time joins (q48's as-of consumes
# exactly this layout). Interval bounds are exact NTZ epoch
# microseconds — integers, so no timestamp-formatting parity risk.


@query(
    "q157_scd2_intervals",
    """
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN LAG(event_type) OVER wo IS NULL
                    OR LAG(event_type) OVER wo <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), isl AS (
      SELECT user_id, event_type, ts,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM o
    ), g AS (
      SELECT user_id, island, MIN(event_type) AS state,
             epoch_us(MIN(ts)) AS valid_from_us,
             COUNT(*) AS n_obs
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id, CAST(island AS BIGINT) AS version, state,
           CAST(valid_from_us AS BIGINT) AS valid_from_us,
           CAST(LEAD(valid_from_us) OVER (PARTITION BY user_id
                                          ORDER BY island) AS BIGINT)
             AS valid_to_us,
           CAST(n_obs AS BIGINT) AS n_obs
    FROM g
    """,
)
def q157(spark, sf_dir):
    """Per-user SCD2 state intervals: version ordinal, state, inclusive
    valid_from / exclusive valid_to (NULL = current) in epoch
    microseconds, and the number of observations collapsed into the
    interval.

    Spark shape: change detection (lag), island numbering (running
    sum), the per-island collapse (groupBy user+island), and the
    valid_to lead all share the user_id partitioning — ONE shuffle
    total in the executed plan (the three windows and the agg reuse
    the same hash partitioning; over a user-bucketed layout even that
    vanishes, the q144 note). Ordering always carries the event_id
    integer tiebreak (house rule), so equal-timestamp events produce
    one deterministic interval sequence on both engines."""
    ev = load(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            F.lag("event_type").over(wo).isNull()
            | (F.lag("event_type").over(wo) != F.col("event_type")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("chg"),
    )
    isl = o.select(
        "user_id",
        "event_type",
        "ts",
        F.sum("chg")
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    us = (
        "timestampdiff(MICROSECOND,"
        " TIMESTAMP_NTZ '1970-01-01 00:00:00', min_ts)"
    )
    g = isl.groupBy("user_id", "island").agg(
        F.min("event_type").alias("state"),
        F.min("ts").alias("min_ts"),
        F.count("*").alias("n_obs"),
    )
    wl = Window.partitionBy("user_id").orderBy("island")
    return g.select(
        "user_id",
        F.col("island").cast("bigint").alias("version"),
        "state",
        F.expr(us).cast("bigint").alias("valid_from_us"),
        F.lead(F.expr(us)).over(wl).cast("bigint").alias("valid_to_us"),
        F.col("n_obs").cast("bigint").alias("n_obs"),
    )


# ---------------------------------------------------------------------------
# q158: the curation waterfall — the headline report of any corpus
# build: how many documents and characters survive each pipeline stage
# (ingest -> host blocklist -> exact dedup -> quality filter), applied
# SEQUENTIALLY, with exact retained-ppm against ingest. Composes the
# q145 blocklist verdict, the q17 fingerprint keeper rule, and the q56
# quality score without re-deriving any of them (the q53/q61 lockstep
# convention: shared expressions, not copies).


@query(
    "q158_curation_waterfall",
    f"""
    WITH d AS (
      SELECT doc_id, n_chars,
             regexp_replace(lower(regexp_extract({_url_expr('varchar')},
                 '{_URL_HOST_PAT}', 1)), '^www\\.', '') AS host,
             {textstats.fingerprint_sql('text')} AS fp,
             CAST(({_QC_WSUM_SQL} * 1000) // len(toks) AS BIGINT) AS q
      FROM (SELECT *, regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents)
    ), flagged AS (
      SELECT doc_id, n_chars,
             CASE WHEN host IN {BLOCKED_HOSTS!r} THEN 0 ELSE 1 END AS pass_bl,
             q
      FROM d
    ), keepers AS (
      SELECT fp, MIN(doc_id) AS keeper
      FROM d JOIN flagged USING (doc_id)
      WHERE flagged.pass_bl = 1
      GROUP BY fp
    ), lvl AS (
      SELECT f.doc_id, f.n_chars,
             CASE WHEN f.pass_bl = 0 THEN 0
                  WHEN k.keeper <> f.doc_id THEN 1
                  WHEN f.q < {QC_KEEP_E3} THEN 2
                  ELSE 3 END AS survive
      FROM flagged f
      JOIN d USING (doc_id)
      LEFT JOIN keepers k ON k.fp = d.fp
    ), agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n0,
             CAST(SUM(n_chars) AS BIGINT) AS c0,
             CAST(SUM(CASE WHEN survive >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN survive >= 1 THEN n_chars ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN survive >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN survive >= 2 THEN n_chars ELSE 0 END) AS BIGINT) AS c2,
             CAST(SUM(CASE WHEN survive >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
             CAST(SUM(CASE WHEN survive >= 3 THEN n_chars ELSE 0 END) AS BIGINT) AS c3
      FROM lvl
    )
    SELECT s.stage, s.stage_name,
           CASE s.stage WHEN 0 THEN n0 WHEN 1 THEN n1 WHEN 2 THEN n2
                        ELSE n3 END AS n_docs,
           CASE s.stage WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2
                        ELSE c3 END AS n_chars,
           CAST(CASE s.stage WHEN 0 THEN n0 WHEN 1 THEN n1 WHEN 2 THEN n2
                             ELSE n3 END * 1000000 // n0 AS BIGINT)
             AS docs_retained_ppm,
           CAST(CASE s.stage WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2
                             ELSE c3 END * 1000000 // c0 AS BIGINT)
             AS chars_retained_ppm
    FROM agg, (VALUES (CAST(0 AS BIGINT), 'ingest'),
                      (CAST(1 AS BIGINT), 'blocklist'),
                      (CAST(2 AS BIGINT), 'exact_dedup'),
                      (CAST(3 AS BIGINT), 'quality')) AS s(stage, stage_name)
    ORDER BY s.stage
    """,
)
def q158(spark, sf_dir):
    """Four-stage curation waterfall with exact doc/char retention ppm.
    Stage semantics are sequential: dedup keepers are chosen AMONG
    blocklist survivors (a doc blocked upstream can't be a keeper),
    quality is judged on dedup survivors.

    Spark shape: one corpus map pass computes host verdict, fingerprint
    and quality score in-row; the keeper rule is ONE fingerprint
    groupBy over blocklist survivors joined back on fp (the q17
    shuffle — over a fingerprint-bucketed staging layout it vanishes);
    the waterfall itself is a SINGLE-ROW conditional agg unpivoted
    against a generated 4-row stage dimension (q68 rule) — no second
    corpus scan, no per-stage refilter."""
    d = load(spark, sf_dir, "documents")
    host = F.regexp_replace(
        F.lower(
            F.regexp_extract(F.expr(_url_expr("string")), _URL_HOST_PAT, 1)
        ),
        r"^www\.",
        "",
    )
    base = d.withColumn(
        "toks", F.split(F.trim("text"), r"\s+")
    ).select(
        "doc_id",
        "n_chars",
        host.alias("host"),
        textstats.fingerprint_col(F.col("text")).alias("fp"),
        F.expr(
            f"cast(({_QC_WSUM_SPARK} * 1000) div size(toks) as bigint)"
        ).alias("q"),
    ).withColumn(
        "pass_bl",
        F.when(F.col("host").isin(*BLOCKED_HOSTS), F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    keepers = (
        base.filter(F.col("pass_bl") == 1)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper"))
    )
    lvl = base.join(keepers, "fp", "left").select(
        "n_chars",
        F.when(F.col("pass_bl") == 0, F.lit(0))
        .when(F.col("keeper") != F.col("doc_id"), F.lit(1))
        .when(F.col("q") < QC_KEEP_E3, F.lit(2))
        .otherwise(F.lit(3))
        .alias("survive"),
    )
    agg = lvl.agg(
        F.count("*").cast("bigint").alias("n0"),
        F.sum("n_chars").cast("bigint").alias("c0"),
        *[
            c
            for i in (1, 2, 3)
            for c in (
                F.sum(F.when(F.col("survive") >= i, 1).otherwise(0))
                .cast("bigint")
                .alias(f"n{i}"),
                F.sum(
                    F.when(F.col("survive") >= i, F.col("n_chars")).otherwise(
                        0
                    )
                )
                .cast("bigint")
                .alias(f"c{i}"),
            )
        ],
    )
    stages = spark.createDataFrame(
        [(0, "ingest"), (1, "blocklist"), (2, "exact_dedup"), (3, "quality")],
        "stage long, stage_name string",
    )
    n_case = (
        "CASE stage WHEN 0 THEN n0 WHEN 1 THEN n1 WHEN 2 THEN n2"
        " ELSE n3 END"
    )
    c_case = (
        "CASE stage WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2"
        " ELSE c3 END"
    )
    return (
        stages.crossJoin(F.broadcast(agg))
        .select(
            "stage",
            "stage_name",
            F.expr(n_case).cast("bigint").alias("n_docs"),
            F.expr(c_case).cast("bigint").alias("n_chars"),
            F.expr(f"({n_case}) * 1000000 div n0")
            .cast("bigint")
            .alias("docs_retained_ppm"),
            F.expr(f"({c_case}) * 1000000 div c0")
            .cast("bigint")
            .alias("chars_retained_ppm"),
        )
        .orderBy("stage")
    )


# ---------------------------------------------------------------------------
# q159: GROUPING SETS corpus report — the multi-grain aggregate
# (per lang x source, per lang, per source, grand total) computed in
# ONE pass with an explicit grouping_id to disambiguate real NULL keys
# from subtotal rows. ROLLUP (q10) and CUBE (q58) are fixed lattices;
# GROUPING SETS is the general form warehouses actually run (only the
# grains a dashboard needs, nothing more).


@query(
    "q159_grouping_sets",
    """
    SELECT CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS gid,
           lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM documents
    GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
    """,
)
def q159(spark, sf_dir):
    """Four-grain corpus census in one scan: gid 0 = (lang, source)
    cells, 1 = per-lang subtotal, 2 = per-source subtotal, 3 = grand
    total; subtotal key columns are NULL and gid is the authoritative
    discriminator (the GROUPING() bit vector, identical on both
    engines).

    Spark shape: one Expand node replicates each input row once per
    grouping set BEFORE the single hash agg — map-side partials still
    collapse each replica stream to its grain's cardinality, so the
    shuffle carries ~(|lang x source| + |lang| + |source| + 1) rows
    per task regardless of corpus size. One scan, one shuffle — vs
    four separate aggs = four scans."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupingSets(
            [["lang", "source"], ["lang"], ["source"], []],
            "lang",
            "source",
        )
        .agg(
            (F.grouping("lang") * 2 + F.grouping("source"))
            .cast("bigint")
            .alias("gid"),
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
        .select("gid", "lang", "source", "n_docs", "n_chars")
    )


# ---------------------------------------------------------------------------
# q160: exact quantile-rank (CDF) transform — map every document's
# length to its within-language percentile in ppm, the
# feature-engineering normalization that makes lengths comparable
# across languages (German runs ~40% longer than English for the same
# content; a raw length cutoff is a hidden language filter). Midrank
# convention (ties share the average rank), so the transform is
# distribution-faithful and engine-exact: ppm = d2r * 500000 div n
# where d2r is the q150 doubled rank.


@query(
    "q160_percentile_rank",
    """
    WITH hx AS (
      SELECT lang, n_chars AS x, COUNT(*) AS cnt,
             2 * COALESCE(SUM(COUNT(*)) OVER (PARTITION BY lang ORDER BY n_chars
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + COUNT(*) + 1 AS d2r,
             SUM(COUNT(*)) OVER (PARTITION BY lang) AS n
      FROM documents GROUP BY lang, n_chars
    )
    SELECT d.doc_id, d.lang, d.n_chars,
           CAST(hx.d2r * 500000 // hx.n AS BIGINT) AS pct_ppm
    FROM documents d JOIN hx ON hx.lang = d.lang AND hx.x = d.n_chars
    """,
)
def q160(spark, sf_dir):
    """Per-document within-language midrank percentile of n_chars in
    exact ppm (pct_ppm = midrank/n * 1e6, floored; a lone median doc
    gets 500000).

    Spark shape: the q150/q151 two-touch plan — ONE per-(lang, value)
    histogram (map-side partials), rank + group-total windows on
    HISTOGRAM rows only, rank map broadcast-joined back onto the
    corpus. Output is corpus-sized by design (it's a per-row feature
    transform, the engine's map-side join pattern for attaching any
    distribution statistic to every row without sorting the corpus).
    d2r * 500000 passes int64 when n > ~9e12 docs per lang (q77 widen
    note)."""
    d = load(spark, sf_dir, "documents")
    wcum = (
        Window.partitionBy("lang_h")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.partitionBy("lang_h")
    hx = (
        d.groupBy(
            F.col("lang").alias("lang_h"), F.col("n_chars").alias("x")
        )
        .agg(F.count("*").alias("cnt"))
        .select(
            "lang_h",
            "x",
            (
                F.lit(2) * F.coalesce(F.sum("cnt").over(wcum), F.lit(0))
                + F.col("cnt")
                + 1
            ).alias("d2r"),
            F.sum("cnt").over(wall).alias("n"),
        )
    )
    return (
        d.join(
            F.broadcast(hx),
            (F.col("lang") == F.col("lang_h"))
            & (F.col("n_chars") == F.col("x")),
        )
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.expr("d2r * 500000 div n").cast("bigint").alias("pct_ppm"),
        )
    )



# ---------------------------------------------------------------------------
# q161: set-similarity self-join with PREFIX FILTERING (PPJoin-style,
# Xiao et al. 2011 re-expressed relationally): find document pairs
# whose shingle-SET Jaccard is >= 0.6, over the SAME hashed word-3-gram
# shingles as q18/q19 (the shared `_shingles` relation — lockstep by
# construction). The inverted index is built over each document's
# PREFIX ONLY — its (|x| - ceil(0.6*|x|) + 1) globally RAREST shingles
# — the classic guarantee that any pair with J >= t shares a prefix
# token, so the candidate join touches a fraction of the postings and
# hot shingles (high df) are structurally excluded from the index
# (they sort LAST in the rarest-first order — the opposite failure
# mode of q18's df-cap, and the two techniques compose).

PP_T_NUM, PP_T_DEN = 3, 5  # Jaccard threshold 3/5 = 0.6, exact rational


@query(
    "q161_prefix_jaccard_join",
    _SHINGLE_CTE
    + f"""
    , sz AS (
      SELECT doc_id, COUNT(*) AS n FROM hsh GROUP BY 1
    ), cand AS (
      SELECT p1.doc_id AS doc_a, p2.doc_id AS doc_b
      FROM hsh p1 JOIN hsh p2
        ON p2.shh = p1.shh AND p1.doc_id < p2.doc_id
      GROUP BY 1, 2
    ), ix AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN hsh pa ON pa.doc_id = c.doc_a
      JOIN hsh pb ON pb.doc_id = c.doc_b AND pb.shh = pa.shh
      GROUP BY 1, 2
    )
    SELECT ix.doc_a, ix.doc_b,
           CAST(ix.n_common * 1000000
                // (sa.n + sb.n - ix.n_common) AS BIGINT) AS jacc_ppm
    FROM ix JOIN sz sa ON sa.doc_id = ix.doc_a
            JOIN sz sb ON sb.doc_id = ix.doc_b
    WHERE ix.n_common * {PP_T_DEN} >= (sa.n + sb.n - ix.n_common) * {PP_T_NUM}
    """,
)
def q161(spark, sf_dir):
    """Document pairs with shingle-set Jaccard >= 0.6 and the exact
    jacc_ppm. The threshold test is exact rational arithmetic
    (n_common * 5 >= union * 3 — no float, no floor ambiguity at the
    boundary); docs with < 3 tokens have no shingles and drop out of
    the domain identically on both engines.

    Spark shape: shared postings (doc x 48-bit shingle hash, built
    in-row then exploded — q18's one shuffle) -> shingle document
    frequencies (shingle-sized agg) -> per-doc rarest-first rank via a
    row_number window partitioned BY DOC (bounded by doc shingle
    count) -> PREFIX postings only (rn <= |x| - ceil(t|x|) + 1, ceil
    as exact integers) -> candidate equi-join on prefix shingles ->
    exact intersection count on full postings restricted to candidates
    -> exact rational threshold. The ORACLE joins on ANY shared
    shingle instead — prefix filtering is provably lossless for J >= t
    under a consistent global order (rarest-first by (df, shh)), and
    the driver's hash gate is what PROVES the Spark plan lost nothing.
    At 100 TB the prefix index holds ~(1-t)|x|+1 of each doc's
    shingles — at t=0.6, indexing 40% of postings and skipping every
    stop-phrase — while q18's df-cap alone still indexes everything
    rarer than the cap."""
    # the postings relation feeds FIVE consumers (df, sizes, ranking,
    # and both intersection sides): materialize the in-row shingle
    # expansion once (q112 pattern) — the inline analog of the staged
    # bucketed postings table in operators/staged_dedup.py, which is
    # how the 100 TB path amortizes exactly this
    post = _shingles(spark, sf_dir).transform(materialize)
    df_sh = post.groupBy("shh").agg(F.count("*").alias("df"))
    sz = post.groupBy("doc_id").agg(F.count("*").alias("n"))
    wdoc = Window.partitionBy("doc_id").orderBy("df", "shh")
    ranked = (
        post.join(df_sh, "shh")
        .join(sz, "doc_id")
        .select(
            "doc_id", "shh", "n", F.row_number().over(wdoc).alias("rn")
        )
    )
    # prefix length = n - ceil(t*n) + 1; ceil(3n/5) = (3n + 4) div 5
    prefix = ranked.filter(
        F.expr(
            f"rn <= n - ({PP_T_NUM} * n + {PP_T_DEN} - 1)"
            f" div {PP_T_DEN} + 1"
        )
    ).select("doc_id", "shh")
    p2 = prefix.select(F.col("doc_id").alias("doc_b"), "shh")
    cand = (
        prefix.withColumnRenamed("doc_id", "doc_a")
        .join(p2, "shh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    pa = post.select(F.col("doc_id").alias("doc_a"), "shh")
    pb = post.select(F.col("doc_id").alias("doc_b"), "shh")
    ix = (
        cand.join(pa, "doc_a")
        .join(pb, ["doc_b", "shh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        ix.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.expr(
                f"n_common * {PP_T_DEN} >= (na + nb - n_common) * {PP_T_NUM}"
            )
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr("n_common * 1000000 div (na + nb - n_common)")
            .cast("bigint")
            .alias("jacc_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# q162: multi-touch linear attribution — split each purchase's credit
# equally (in exact ppm) across the user's touch events (click / view
# / signup) in the preceding 7 days, integer remainder to the LAST
# touch, purchases with no touches credited to 'direct'. The
# marketing-analytics shape q48's as-of (single-touch) doesn't cover:
# a per-user temporal band join plus exact integer credit division
# whose per-conversion credits always sum to exactly 1,000,000.


@query(
    "q162_linear_attribution",
    """
    WITH p AS (
      SELECT event_id AS pid, user_id, ts AS pts
      FROM events WHERE event_type = 'purchase'
    ), t AS (
      SELECT user_id, event_id AS tid, event_type AS channel, ts AS tts
      FROM events WHERE event_type IN ('click', 'view', 'signup')
    ), pt AS (
      SELECT p.pid, t.channel, t.tid, t.tts,
             COUNT(*) OVER (PARTITION BY p.pid) AS n_t,
             ROW_NUMBER() OVER (PARTITION BY p.pid
                                ORDER BY t.tts DESC, t.tid DESC) AS rn
      FROM p JOIN t ON t.user_id = p.user_id
                   AND t.tts < p.pts
                   AND t.tts >= p.pts - INTERVAL 7 DAY
    ), credited AS (
      SELECT channel,
             1000000 // n_t
             + CASE WHEN rn = 1 THEN 1000000 % n_t ELSE 0 END AS credit,
             pid
      FROM pt
      UNION ALL
      SELECT 'direct' AS channel, 1000000 AS credit, p.pid
      FROM p
      WHERE NOT EXISTS (
        SELECT 1 FROM t WHERE t.user_id = p.user_id
                          AND t.tts < p.pts
                          AND t.tts >= p.pts - INTERVAL 7 DAY)
    )
    SELECT channel,
           CAST(SUM(credit) AS BIGINT) AS credit_ppm_total,
           CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_conversions
    FROM credited GROUP BY channel
    """,
)
def q162(spark, sf_dir):
    """Per-channel linear attribution totals: credit_ppm_total sums the
    exact integer splits (every conversion's credits sum to exactly
    1e6 — base = 1e6 div n, remainder to the latest touch by
    (ts, event_id) — so SUM(credit_ppm_total) == 1e6 * n_purchases
    corpus-wide, an auditable invariant), n_credits counts credited
    touches, n_conversions the distinct purchases reaching the
    channel.

    Spark shape: ONE user-keyed band join (equi on user_id; the 7-day
    band is a join-time filter — per-user fan-out is bounded by user
    activity, never corpus size) + two windows partitioned by
    conversion id (conversion-bounded), + an anti join for the
    untouched purchases (same user_id partitioning), + a
    channels-sized final agg. All credit arithmetic is exact int64
    (1e6 div n and 1e6 mod n)."""
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.col("ts").alias("pts"),
    )
    t = ev.filter(
        F.col("event_type").isin("click", "view", "signup")
    ).select(
        "user_id",
        F.col("event_id").alias("tid"),
        F.col("event_type").alias("channel"),
        F.col("ts").alias("tts"),
    )
    band = (F.col("tts") < F.col("pts")) & (
        F.col("tts") >= F.expr("pts - interval 7 day")
    )
    pt = p.join(t, ["user_id"]).filter(band)
    wcnt = Window.partitionBy("pid")
    wrn = Window.partitionBy("pid").orderBy(
        F.col("tts").desc(), F.col("tid").desc()
    )
    credited_t = pt.select(
        "pid",
        "channel",
        F.count("*").over(wcnt).alias("n_t"),
        F.row_number().over(wrn).alias("rn"),
    ).select(
        "channel",
        F.expr(
            "1000000 div n_t + IF(rn = 1, 1000000 % n_t, 0)"
        ).alias("credit"),
        "pid",
    )
    touched = pt.select("pid").distinct()
    direct = p.join(touched, "pid", "left_anti").select(
        F.lit("direct").alias("channel"),
        F.lit(1000000).alias("credit"),
        "pid",
    )
    return (
        credited_t.unionByName(direct)
        .groupBy("channel")
        .agg(
            F.sum("credit").cast("bigint").alias("credit_ppm_total"),
            F.count("*").cast("bigint").alias("n_credits"),
            F.countDistinct("pid").cast("bigint").alias("n_conversions"),
        )
    )


# ---------------------------------------------------------------------------
# q163: random projection (Johnson-Lindenstrauss sign sketch) — reduce
# each 64-dim embedding to 16 dims via y_j = sum_i s(i,j) * x_i with
# s(i,j) in {+1, -1} drawn from a salted md5 hash, the standard
# oblivious dimensionality reduction feeding LSH and cheap pre-filters
# (Achlioptas 2003: +-1 entries preserve distances in expectation as
# well as Gaussians). Both engines derive the SAME projection matrix
# from the hash, so no matrix is stored or shipped anywhere.

RP_OUT_DIMS = 16
# +1 when the first hex nibble of md5('rp:<i>:<j>') is even, else -1
_RP_SIGN_SQL = (
    "CASE WHEN ('0x' || substr(md5('rp:' || pos || ':' || j), 1, 1))::BIGINT"
    " % 2 = 0 THEN 1 ELSE -1 END"
)
_RP_SIGN_SPARK = (
    "IF(conv(substring(md5(concat('rp:', cast(i as string), ':',"
    " cast(j as string))), 1, 1), 16, 10) % 2 = 0, 1D, -1D)"
)


@query(
    "q163_random_projection",
    f"""
    WITH dims AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) AS pos,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
                  AS BIGINT) AS vq
      FROM embeddings
    ), proj AS (
      SELECT d.vec_id, j.j,
             CAST(SUM(d.vq * ({_RP_SIGN_SQL})) AS BIGINT) AS y_q6
      FROM dims d
      CROSS JOIN (SELECT unnest(generate_series(1, {RP_OUT_DIMS})) AS j) j
      GROUP BY 1, 2
    )
    SELECT vec_id, CAST(j AS BIGINT) AS out_dim, y_q6 FROM proj
    """,
)
def q163(spark, sf_dir):
    """16-dim sign random projection of every embedding, integer-exact:
    inputs are quantized to e6 FIRST (vq = floor(x * 1e6), a
    deterministic double op — float32 carries ~7 significant digits,
    so e6 at unit scale loses nothing that was real), then y_q6 is an
    exact int64 sum of signed quantized components. No
    double->decimal cast appears anywhere: that cast's rounding
    differs between engines (~1e-12 per element — measured here before
    switching to quantized integers), which is fine under the e6-floor
    outputs the cosine queries use but NOT for raw coordinates.

    Spark shape: entirely IN-ROW — transform over the 16 output dims,
    each an integer fold over the embedding with the hash-derived
    sign, then ONE posexplode to rows. Zero shuffles, zero Python, no
    stored projection matrix: at 100 TB this is a pure map stage that
    widens each vector row 16x, nothing else. y_q6 passes int64 at
    ~9e11 input dims of unit scale (q77 widen note)."""
    e = load(spark, sf_dir, "embeddings").filter(F.size("embedding") > 0)
    ys = F.expr(
        f"transform(sequence(1, {RP_OUT_DIMS}), j ->"
        f" aggregate(zip_with(embedding, sequence(1, size(embedding)),"
        f"   (x, i) -> cast(floor(cast(x as double) * 1000000.0) as bigint)"
        f"             * cast({_RP_SIGN_SPARK} as bigint)),"
        f"  cast(0 as bigint), (acc, p) -> acc + p))"
    )
    return e.select(
        "vec_id", F.posexplode(ys).alias("pos0", "yq")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).cast("bigint").alias("out_dim"),
        F.col("yq").cast("bigint").alias("y_q6"),
    )


# ---------------------------------------------------------------------------
# q164: character-MASS percentiles — the length cutoffs below which
# 25/50/75% of the corpus's CHARACTERS (not documents) live, per
# language. Chunk-size and token-budget decisions care about where the
# mass is, not where the median document is: with heavy tails, p50 of
# docs and p50 of mass differ wildly (compare against q57's
# doc-count percentiles; the gap IS the skew report). Exact integer
# selection on the value histogram: cutoff(k) = min v such that
# 4 * cum_mass(v) >= k * total_mass.


@query(
    "q164_charmass_percentiles",
    """
    WITH h AS (
      SELECT lang, n_chars AS v,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY lang, n_chars
    ), m AS (
      SELECT lang, v, v * c AS mass,
             SUM(v * c) OVER (PARTITION BY lang ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(v * c) OVER (PARTITION BY lang) AS tot
      FROM h
    ), pick AS (
      SELECT m.lang, k.k, MIN(m.v) AS cutoff
      FROM m JOIN (VALUES (1), (2), (3)) k(k)
        ON 4 * m.cum >= k.k * m.tot
      GROUP BY 1, 2
    )
    SELECT lang, CAST(k * 25 AS BIGINT) AS mass_pctl,
           CAST(cutoff AS BIGINT) AS cutoff_chars
    FROM pick
    """,
)
def q164(spark, sf_dir):
    """Per-language char-mass quartile cutoffs: the smallest document
    length v such that documents of length <= v hold at least
    25/50/75% of the language's total characters (exact rational test
    4*cum >= k*tot — no division, no float).

    Spark shape: one (lang, value) histogram groupBy (map-side
    partials), mass + cumulative-mass windows on HISTOGRAM rows, and
    the quartile pick is a histogram x 3 broadcast theta-join reduced
    by MIN — all post-histogram work is bounded by distinct lengths
    per lang, never docs. v*c*k stays in int64 until per-lang char
    mass passes ~2.3e18/3 (q77 widen note)."""
    d = load(spark, sf_dir, "documents")
    h = d.groupBy("lang", F.col("n_chars").alias("v")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    wcum = (
        Window.partitionBy("lang")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("lang")
    m = h.select(
        "lang",
        "v",
        F.sum(F.expr("v * c")).over(wcum).alias("cum"),
        F.sum(F.expr("v * c")).over(wall).alias("tot"),
    )
    ks = spark.range(1, 4).select(F.col("id").alias("k"))
    return (
        m.join(F.broadcast(ks), F.expr("4 * cum >= k * tot"))
        .groupBy("lang", "k")
        .agg(F.min("v").alias("cutoff"))
        .select(
            "lang",
            (F.col("k") * 25).cast("bigint").alias("mass_pctl"),
            F.col("cutoff").cast("bigint").alias("cutoff_chars"),
        )
    )


# ---------------------------------------------------------------------------
# q165: per-user state snapshot via ARG-MAX AGGREGATION (max_by) — the
# feature-store build that materializes "current state + lifetime
# stats" per entity in ONE shuffle with map-side partials. The naive
# idiom (row_number window + rn=1 filter + join back for the
# aggregates) sorts every partition and scans twice; max_by is an
# O(1)-state aggregate, so partials combine like any sum. Tie
# discipline: the order key is a zero-padded (epoch_us, event_id)
# string — total, unique, identical on both engines (house rule:
# rank keys always carry the integer tiebreak).


@query(
    "q165_user_snapshot",
    """
    SELECT user_id,
           max_by(event_type,
                  lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                  || lpad(CAST(event_id AS VARCHAR), 12, '0'))
             AS last_event,
           CAST(epoch_us(MIN(ts)) AS BIGINT) AS first_seen_us,
           CAST(epoch_us(MAX(ts)) AS BIGINT) AS last_seen_us,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_active_days
    FROM events GROUP BY user_id
    """,
)
def q165(spark, sf_dir):
    """One row per user: the arg-max latest event type, first/last
    seen (exact NTZ epoch microseconds), lifetime counts, exact
    decimal value total, and distinct active days.

    Spark shape: ONE hash agg on user_id — every measure including
    max_by carries constant per-group state through map-side partial
    aggregation, so the shuffle moves one partial row per (task,
    user), never the event stream (the window+filter formulation of
    'latest per user' would sort each partition instead; this is the
    pattern that replaces it at 10^12 events). count(distinct date)
    triggers the standard two-phase expand-agg — still user-keyed,
    no extra corpus scan."""
    ev = load(spark, sf_dir, "events")
    key = F.expr(
        "lpad(cast(timestampdiff(MICROSECOND,"
        " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) as string), 20, '0')"
        " || lpad(cast(event_id as string), 12, '0')"
    )
    us = (
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {})"
    )
    return ev.groupBy("user_id").agg(
        F.max_by("event_type", key).alias("last_event"),
        F.expr(us.format("min(ts)")).cast("bigint").alias("first_seen_us"),
        F.expr(us.format("max(ts)")).cast("bigint").alias("last_seen_us"),
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("total_value"),
        F.countDistinct(F.col("ts").cast("date"))
        .cast("bigint")
        .alias("n_active_days"),
    )


# ---------------------------------------------------------------------------
# q166: Zipf rank-frequency audit — the top-30 corpus tokens with
# their rank*frequency product. Natural text keeps r*f roughly
# constant (Zipf's law); a flat or erratic profile flags templated or
# machine-generated corpora (the complement of q153's Benford audit
# for numeric fields). Everything is exact integers — no log-log
# regression, the r*f product IS the Zipf diagnostic.

ZIPF_TOP_K = 30


@query(
    "q166_zipf_audit",
    f"""
    WITH tf AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents
    ), counts AS (
      SELECT token, COUNT(*) AS freq FROM tf GROUP BY token
    ), ranked AS (
      SELECT token, freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS rank
      FROM counts
    )
    SELECT CAST(rank AS BIGINT) AS rank, token, CAST(freq AS BIGINT) AS freq,
           CAST(rank * freq AS BIGINT) AS rf
    FROM ranked WHERE rank <= {ZIPF_TOP_K}
    """,
)
def q166(spark, sf_dir):
    """Top-30 tokens by corpus frequency with rank and the exact
    rank*frequency Zipf product (rank ties broken by token — unique,
    both engines).

    Spark shape: one token-explode + token-sized hash agg (map-side
    partials collapse each task to its distinct tokens), then the
    global top-30 is TakeOrderedAndProject over (freq DESC, token ASC)
    — a per-partition heap + 30-row driver merge, NOT a global sort
    (the q11 rule); rank is assigned by a window over the 30 surviving
    rows only."""
    d = load(spark, sf_dir, "documents")
    counts = (
        d.select(
            F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    top = counts.orderBy(F.col("freq").desc(), F.col("token").asc()).limit(
        ZIPF_TOP_K
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("token").asc())
    return top.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        "token",
        F.col("freq").cast("bigint").alias("freq"),
    ).select(
        "rank", "token", "freq",
        F.expr("rank * freq").cast("bigint").alias("rf"),
    )


# ---------------------------------------------------------------------------
# q167: cross-language contamination — document OPENINGS (the
# canonical first five tokens) that appear under MORE THAN ONE
# language label. Shared openings across language silos are the
# earliest template-leak signal: boilerplate headers, scraped nav
# text, or a language classifier disagreeing with itself — all poison
# per-language statistics and dedup-by-(lang, key) pipelines. (Full-
# text fingerprints also cross languages — 7 at sf0.1 — but are
# vacuous at the sf0.01 gate; the opening key catches the leak at
# every scale. Keyed on md5, the q17 16-byte-shuffle-key discipline.)


@query(
    "q167_cross_lang_leak",
    """
    WITH k AS (
      SELECT lang,
             array_to_string(regexp_split_to_array(trim(lower(text)),
                             '\\s+')[1:5], ' ') AS prefix
      FROM documents
    )
    SELECT md5(prefix) AS fp, MIN(prefix) AS prefix,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs
    FROM k
    GROUP BY md5(prefix)
    HAVING COUNT(DISTINCT lang) > 1
    """,
)
def q167(spark, sf_dir):
    """Canonical 5-token openings spanning multiple language labels,
    with the sorted lang list (comma-joined — deterministic on both
    engines) and doc counts.

    Spark shape: the opening and its md5 are one map pass; ONE groupBy
    on the 16-byte hash (map-side partials); the lang set is a
    collect_set bounded by the language domain, sorted in-row; the
    HAVING prunes to the contaminated keys before anything leaves the
    agg. min(prefix) carries the human-readable opening without
    widening the shuffle key."""
    d = load(spark, sf_dir, "documents")
    prefix = F.concat_ws(
        " ", F.slice(F.split(F.trim(F.lower("text")), r"\s+"), 1, 5)
    )
    return (
        d.select(prefix.alias("prefix"), "lang")
        .groupBy(F.md5("prefix").alias("fp"))
        .agg(
            F.min("prefix").alias("prefix"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.count("*").cast("bigint").alias("n_docs"),
            F.concat_ws(
                ",", F.sort_array(F.collect_set("lang"))
            ).alias("langs"),
        )
        .filter(F.col("n_langs") > 1)
    )


# ---------------------------------------------------------------------------
# q168: Pareto frontier (skyline) of documents per language on the two
# exact quality axes (n_chars, whitespace-token count) — "which docs
# are undominated on length AND token richness". Skyline queries are
# the classic multi-criteria curation primitive (Börzsönyi et al.,
# ICDE 2001); a training-data curator uses the frontier to pick
# per-language exemplars without collapsing two metrics into one
# weighted score.


@query(
    "q168_pareto_frontier",
    f"""
    WITH pts AS (
      SELECT lang, n_chars AS x,
             {textstats.token_count_sql('text')} AS y,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1, 2, 3
    ),
    mx AS (
      SELECT lang, x, y, n_docs,
             MAX(y) OVER (PARTITION BY lang ORDER BY x DESC, y DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS m
      FROM pts
    )
    SELECT lang, x AS n_chars, CAST(y AS BIGINT) AS n_tokens, n_docs
    FROM mx WHERE m IS NULL OR y > m
    """,
)
def q168(spark, sf_dir):
    """Per-language skyline on (n_chars, n_tokens), both maximized: a
    distinct point survives iff no same-language point has >= on both
    axes with > on one. Exact integers only — no scoring floats.

    Plan: ONE corpus pass builds the distinct-point histogram (groupBy
    with map-side partials; the point space is bounded by the metric
    value domain, not the corpus). The domination test is the sort-scan
    formulation — order points x DESC, y DESC and keep rows whose y
    strictly exceeds the running max of all earlier rows (an earlier
    row has x' >= x, and x' = x implies y' > y by distinctness, so
    m >= y IS domination) — a window over HISTOGRAM rows, never the
    corpus. At 10^12 docs the per-lang point partitions are value-
    domain-sized; nothing corpus-scale is sorted."""
    d = load(spark, sf_dir, "documents")
    pts = d.groupBy(
        "lang",
        F.col("n_chars").alias("x"),
        textstats.token_count_col(F.col("text")).alias("y"),
    ).agg(F.count("*").cast("bigint").alias("n_docs"))
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("x"), F.desc("y"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        pts.withColumn("m", F.max("y").over(w))
        .filter(F.col("m").isNull() | (F.col("y") > F.col("m")))
        .select(
            "lang",
            F.col("x").alias("n_chars"),
            F.col("y").cast("bigint").alias("n_tokens"),
            "n_docs",
        )
    )


# ---------------------------------------------------------------------------
# q169: triangle participation counts on the host graph — the classic
# degree-ordered MR triangle count (Suri & Vassilvitskii, WWW 2011):
# orient every undirected edge from lower (degree, node) to higher, so
# each wedge is generated exactly once at its lowest-ranked vertex and
# per-node wedge fan-out is bounded by O(sqrt(m)) even on power-law
# graphs. Triangle density is the standard link-farm / spam-cluster
# signal a web-curation pipeline combines with PageRank (q99, which
# shares this exact edge derivation — lockstep by construction).


@query(
    "q169_host_triangles",
    """
    WITH raw AS (
      SELECT source AS a,
             'src' || CAST((doc_id * 3 + 1) % 20 AS VARCHAR) AS b
      FROM documents
      WHERE source <> 'src' || CAST((doc_id * 3 + 1) % 20 AS VARCHAR)
    ),
    und AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM raw),
    deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
      ) GROUP BY 1
    ),
    rk AS (SELECT node, ROW_NUMBER() OVER (ORDER BY deg, node) AS rk FROM deg),
    ed AS (
      SELECT CASE WHEN ru.rk < rv.rk THEN und.u ELSE und.v END AS x,
             CASE WHEN ru.rk < rv.rk THEN und.v ELSE und.u END AS y,
             greatest(ru.rk, rv.rk) AS ry
      FROM und
      JOIN rk ru ON ru.node = und.u
      JOIN rk rv ON rv.node = und.v
    ),
    tri AS (
      SELECT e1.x AS a, e1.y AS b, e2.y AS c
      FROM ed e1
      JOIN ed e2 ON e1.x = e2.x AND e1.ry < e2.ry
      JOIN ed e3 ON e3.x = e1.y AND e3.y = e2.y
    ),
    part AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT d.node, CAST(d.deg AS BIGINT) AS deg,
           CAST(COALESCE(p.n, 0) AS BIGINT) AS n_tri
    FROM deg d
    LEFT JOIN (SELECT node, COUNT(*) AS n FROM part GROUP BY 1) p
      ON p.node = d.node
    """,
)
def q169(spark, sf_dir):
    """Per-host (degree, triangle-participation) over the q99 host
    graph. Exact integers end to end.

    Plan: the ONLY corpus-scale stage is deriving the distinct edge set
    (one groupBy-distinct with map-side partials, key space bounded by
    hosts^2). Degrees, ranks, orientation, the wedge self-join, and the
    closing semi-join all run on the EDGE relation — at web scale that
    is |hosts| ~ 10^8 edges, not 10^12 docs, and the (degree, node)
    orientation is what keeps the wedge join skew-safe: a celebrity
    host generates wedges only toward higher-ranked (rarer) nodes, so
    no single join key fans out quadratically. The closing join is an
    equi-join on (x, y) — hash-partitioned, no broadcast assumption."""
    d = load(spark, sf_dir, "documents")
    dst = F.expr("'src' || cast((doc_id * 3 + 1) % 20 as string)")
    raw = d.select(
        F.col("source").alias("a"), dst.alias("b")
    ).filter(F.col("a") != F.col("b"))
    und = raw.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()
    # the edge set feeds degrees AND the orientation join — checkpoint
    # so the corpus-scale distinct runs exactly once (q112 pattern); at
    # web scale this materialization is the edges staging table
    # (hosts-squared-bounded, ~10^8 rows, not corpus-sized)
    und = und.transform(materialize)
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # host-domain relation (tiny): rank window + broadcast back onto edges
    rk = deg.select(
        "node", F.row_number().over(Window.orderBy("deg", "node")).alias("rk")
    )
    ed = (
        und.join(F.broadcast(rk.alias("ru")), F.col("u") == F.col("ru.node"))
        .join(F.broadcast(rk.alias("rv")), F.col("v") == F.col("rv.node"))
        .select(
            F.when(F.col("ru.rk") < F.col("rv.rk"), F.col("u"))
            .otherwise(F.col("v"))
            .alias("x"),
            F.when(F.col("ru.rk") < F.col("rv.rk"), F.col("v"))
            .otherwise(F.col("u"))
            .alias("y"),
            F.greatest("ru.rk", "rv.rk").alias("ry"),
        )
    )
    # referenced three times below (both wedge sides + the closing
    # join) — materialize once instead of re-running the rank joins
    ed = ed.transform(materialize)
    tri = (
        ed.alias("e1")
        .join(
            ed.alias("e2"),
            (F.col("e1.x") == F.col("e2.x"))
            & (F.col("e1.ry") < F.col("e2.ry")),
        )
        .select(
            F.col("e1.x").alias("a"),
            F.col("e1.y").alias("b"),
            F.col("e2.y").alias("c"),
        )
        .join(
            ed.alias("e3"),
            (F.col("b") == F.col("e3.x")) & (F.col("c") == F.col("e3.y")),
        )
        .select("a", "b", "c")
    )
    part = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n"))
    )
    return (
        deg.join(part, "node", "left")
        .select(
            "node",
            F.col("deg").cast("bigint").alias("deg"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_tri"),
        )
    )


# ---------------------------------------------------------------------------
# q170: NATIVE session-window aggregation — the same 30-minute-gap
# session semantics as q09's relational gaps-and-islands, but through
# Spark's built-in `session_window` operator (the streaming-capable
# merging-window primitive: in Structured Streaming the identical
# expression runs incrementally with watermark-bounded state, see
# streaming/incremental.py). The relational oracle cross-checks the
# operator's merge semantics exactly: window.start = first event,
# window.end = last event + gap.


@query(
    "q170_session_window",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM sess GROUP BY user_id, sid
    """,
)
def q170(spark, sf_dir):
    """Per-session rows via the native merging session window.

    Plan: ONE shuffle on user_id feeding the session-window merge agg
    (Spark sorts within partitions and merges adjacent windows — no
    per-row window function pass, no self-join). This is the operator
    to reach for at 10^12 events because the SAME expression is the
    incremental streaming form: with a watermark, state is bounded to
    open sessions instead of the full history. Exact sums via the
    decimal-before-double convention (q07)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# q171: per-source distribution-drift audit — the EXACT two-sample
# Kolmogorov-Smirnov statistic between each source's n_chars
# distribution and the global one, in integer ppm with an integer
# argmax location. Drift monitoring is how a continuously-ingesting
# corpus pipeline notices a crawler change / new site template /
# truncation bug: a source whose length CDF walks away from the
# corpus shows up here before any downstream metric moves. The sup is
# computed with cross-multiplied integer CDFs (|cum_s*n_g - cum_g*n_s|)
# — no division until the final ppm, so both engines agree bit-for-bit.


@query(
    "q171_ks_drift",
    """
    WITH hist AS (
      SELECT source, n_chars AS x, COUNT(*) AS c
      FROM documents GROUP BY 1, 2
    ),
    grid AS (SELECT DISTINCT x FROM hist),
    srcs AS (SELECT source, SUM(c) AS n_s FROM hist GROUP BY 1),
    tot AS (SELECT SUM(c) AS n_g FROM hist),
    gcdf AS (
      SELECT x, SUM(SUM(c)) OVER (ORDER BY x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_g
      FROM hist GROUP BY x
    ),
    cells AS (
      SELECT s.source, s.n_s, g.x,
             SUM(COALESCE(h.c, 0)) OVER (PARTITION BY s.source ORDER BY g.x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s
      FROM srcs s
      CROSS JOIN grid g
      LEFT JOIN hist h ON h.source = s.source AND h.x = g.x
    ),
    diffs AS (
      SELECT c.source, c.n_s, c.x, t.n_g,
             ABS(c.cum_s * t.n_g - gl.cum_g * c.n_s) AS d
      FROM cells c JOIN gcdf gl ON gl.x = c.x CROSS JOIN tot t
    ),
    dm AS (
      SELECT source, n_s, n_g, x, d,
             MAX(d) OVER (PARTITION BY source) AS m
      FROM diffs
    )
    SELECT source,
           CAST(MIN(n_s) AS BIGINT) AS n_docs,
           CAST((MIN(m) * 1000000) // (MIN(n_s) * MIN(n_g)) AS BIGINT)
             AS ks_ppm,
           CAST(MIN(CASE WHEN d = m THEN x END) AS BIGINT) AS ks_at
    FROM dm GROUP BY source
    """,
)
def q171(spark, sf_dir):
    """sup_x |CDF_source(x) - CDF_global(x)| per source, exact: ppm by
    cross-multiplication (d = |cum_s*n_g - cum_g*n_s|, divided once at
    the end), argmax reported at its smallest x (MIN over the ties).

    Plan: ONE corpus pass builds the (source, value) histogram
    (map-side partials) and is checkpointed — grid/totals/global-CDF/
    per-source-CDF all derive from the HISTOGRAM (sources x value-
    domain rows, never the corpus). The per-source CDF needs the full
    value grid (a source missing a value still has a CDF step there),
    hence the small srcs x grid cross join. Products cum*n leave int64
    around n_s*n_g ~ 9e18 — at 10^12-doc scale apply the q77 widen
    rule (DECIMAL(38,0) operands; DuckDB widens to HUGEINT by
    itself)."""
    d = load(spark, sf_dir, "documents")
    hist = d.groupBy("source", F.col("n_chars").alias("x")).agg(
        F.count("*").alias("c")
    )
    # feeds grid + srcs + glob + cells: materialize the histogram once
    # (q112 pattern) instead of four corpus scans
    hist = hist.transform(materialize)
    grid = hist.select("x").distinct()
    srcs = hist.groupBy("source").agg(F.sum("c").alias("n_s"))
    tot = srcs.agg(F.sum("n_s").alias("n_g"))
    wg = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    glob = (
        hist.groupBy("x")
        .agg(F.sum("c").alias("cx"))
        .select("x", F.sum("cx").over(wg).alias("cum_g"))
    )
    ws = Window.partitionBy("source").orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cells = (
        srcs.crossJoin(grid)
        .join(hist, ["source", "x"], "left")
        .select(
            "source",
            "n_s",
            "x",
            F.sum(F.coalesce("c", F.lit(0))).over(ws).alias("cum_s"),
        )
    )
    diffs = (
        cells.join(glob, "x")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_s",
            "n_g",
            "x",
            F.abs(
                F.col("cum_s") * F.col("n_g") - F.col("cum_g") * F.col("n_s")
            ).alias("d"),
        )
    )
    dm = diffs.withColumn(
        "m", F.max("d").over(Window.partitionBy("source"))
    )
    return dm.groupBy("source").agg(
        F.min("n_s").cast("bigint").alias("n_docs"),
        F.expr("cast((min(m) * 1000000) div (min(n_s) * min(n_g)) as bigint)")
        .alias("ks_ppm"),
        F.min(F.when(F.col("d") == F.col("m"), F.col("x")))
        .cast("bigint")
        .alias("ks_at"),
    )


# ---------------------------------------------------------------------------
# q172: probability-proportional-to-size (PPS) systematic sampling —
# per source, sample documents with inclusion probability proportional
# to their character mass (the token-weighted analog of q87's
# equal-probability systematic lane). This is how a training-data
# pipeline draws an inspection/eval slice whose TOKEN mass mirrors the
# corpus (a uniform doc sample over-represents short docs): walk the
# cumulative mass in a deterministic pseudo-random order and take one
# doc per step of size total/K. A doc heavier than the step is always
# taken (the classic PPS certainty unit). Exact integers only: md5
# walk order, integer cumulative sums, floor-division tickets.

PPS_K = 8  # target samples per source; step = source_mass div K


@query(
    "q172_pps_sample",
    f"""
    WITH w AS (
      SELECT source, doc_id, n_chars,
             SUM(n_chars) OVER (PARTITION BY source
                 ORDER BY md5('pps:' || CAST(doc_id AS VARCHAR)), doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(n_chars) OVER (PARTITION BY source) AS tot
      FROM documents
    )
    SELECT source, doc_id,
           CAST(n_chars AS BIGINT) AS weight,
           CAST(cum AS BIGINT) AS cum_mass,
           CAST(cum // GREATEST(tot // {PPS_K}, 1) AS BIGINT) AS tick
    FROM w
    WHERE cum // GREATEST(tot // {PPS_K}, 1)
          > (cum - n_chars) // GREATEST(tot // {PPS_K}, 1)
    """,
)
def q172(spark, sf_dir):
    """Selected iff the doc's cumulative-mass interval (cum-w, cum]
    contains a step multiple — floor(cum/step) > floor((cum-w)/step),
    step = greatest(source_mass div PPS_K, 1). Zero-weight docs can
    never be selected (their interval is empty); docs heavier than a
    step are always selected.

    Plan: ONE shuffle on source for both windows (the running mass and
    the source total share the partitioning), then an in-row ticket
    filter. Systematic PPS is inherently a sequential walk per
    stratum; at 10^12 docs the stratum walk stays parallel ACROSS
    sources (and the production variant walks per-shard with
    proportionally allocated K, one extra shard-mass agg — same
    operator shape, documented rather than built because the fixture
    has 20 sources). The md5 walk order is the engines' shared
    deterministic shuffle (q45 convention)."""
    d = load(spark, sf_dir, "documents")
    order_key = F.md5(F.concat(F.lit("pps:"), F.col("doc_id").cast("string")))
    wcum = (
        Window.partitionBy("source")
        .orderBy(order_key, "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("source")
    x = d.select(
        "source",
        "doc_id",
        "n_chars",
        F.sum("n_chars").over(wcum).alias("cum"),
        F.sum("n_chars").over(wtot).alias("tot"),
    )
    tick = F.expr(
        f"cum div greatest(tot div {PPS_K}, 1)"
    )
    prev_tick = F.expr(
        f"(cum - n_chars) div greatest(tot div {PPS_K}, 1)"
    )
    return (
        x.filter(tick > prev_tick)
        .select(
            "source",
            "doc_id",
            F.col("n_chars").cast("bigint").alias("weight"),
            F.col("cum").cast("bigint").alias("cum_mass"),
            tick.cast("bigint").alias("tick"),
        )
    )


# ---------------------------------------------------------------------------
# q173: phonetic blocking via Kölner Phonetik (Postel 1969) — the
# German Soundex. OCR-variant spellings (Fraktur confusion output,
# umlaut transcription drift, Schmidt/Schmitt-class orthographic
# variants) collapse onto one phonetic code, so grouping the
# VOCABULARY by code yields candidate variant clusters with zero
# pairwise comparison — the record-linkage blocking step, and the
# phonetic complement to q14's rule-table normalization. One Python
# rule table (functions/german.py) generates BOTH engines'
# expressions, so the dialects cannot drift.


@query(
    "q173_koelner_blocking",
    f"""
    WITH occ AS (
      SELECT token, COUNT(*) AS n FROM (
        SELECT unnest(regexp_split_to_array(lower(text), '[^a-zäöüß]+'))
          AS token
        FROM documents
      ) WHERE length(token) >= 3
      GROUP BY token
    ),
    cod AS (
      SELECT token, n,
             {german.koelner_finish_sql(german.koelner_raw_sql('token', 'duck'), 'duck')}
               AS code
      FROM occ
    )
    SELECT code,
           CAST(COUNT(*) AS BIGINT) AS n_forms,
           CAST(SUM(n) AS BIGINT) AS n_occ,
           MIN(token) AS min_form,
           MAX(token) AS max_form
    FROM cod WHERE code <> ''
    GROUP BY code
    """,
)
def q173(spark, sf_dir):
    """The full phonetic BLOCKING TABLE: one row per Kölner code with
    distinct-form count, occurrence mass, and the lexicographic form
    range. Codes with n_forms > 1 are the variant-candidate clusters
    (planted and asserted in the unit test — the live synthetic vocab
    is collision-free, which the table shows honestly).

    Plan: the ONLY corpus-scale stage is the token explode + vocab
    hash agg (map-side partials — q166's shape); the phonetic encode
    is an in-row two-pass character fold over the VOCABULARY relation
    (bounded by distinct forms, not occurrences), and the cluster agg
    keys on the short digit code. At 10^12 docs the vocab relation is
    the Heaps-law sublinear one — exactly where a per-token O(len)
    expression belongs (q35/q166 argument)."""
    d = load(spark, sf_dir, "documents")
    occ = (
        d.select(
            F.explode(
                F.split(F.lower("text"), "[^a-zäöüß]+")
            ).alias("token")
        )
        .filter(F.length("token") >= 3)
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    code = F.expr(
        german.koelner_finish_sql(
            german.koelner_raw_sql("token", "spark"), "spark"
        )
    ).alias("code")
    cod = occ.select("token", "n", code)
    return (
        cod.filter(F.col("code") != "")
        .groupBy("code")
        .agg(
            F.count("*").cast("bigint").alias("n_forms"),
            F.sum("n").cast("bigint").alias("n_occ"),
            F.min("token").alias("min_form"),
            F.max("token").alias("max_form"),
        )
    )


# ---------------------------------------------------------------------------
# q174: lang x source independence audit — the exact chi-square
# CONTRIBUTION TABLE for the contingency matrix. A healthy multi-source
# corpus has languages spread across sources; a cell whose observed
# count diverges from the independence expectation (a source that is
# suddenly 95% one language, a language that collapsed onto one host)
# is the earliest mixture-shift signal, and the per-cell contributions
# localize WHICH (lang, source) pair moved — drift localization, where
# q171's KS says only THAT a source moved. Exact integer arithmetic:
# dev = n*O - R*C (zero exactly at independence), contribution =
# floor(dev^2 * 1e6 / (n*R*C)) — floored per cell, so the implied
# chi-square (sum/1e6 over cells) is a documented floor convention,
# not a float.


@query(
    "q174_chisq_cells",
    """
    WITH cells AS (
      SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2
    ),
    r AS (SELECT lang, SUM(o) AS rl FROM cells GROUP BY 1),
    c AS (SELECT source, SUM(o) AS cs FROM cells GROUP BY 1),
    t AS (SELECT SUM(o) AS n FROM cells)
    SELECT cells.lang, cells.source,
           CAST(o AS BIGINT) AS observed,
           CAST(rl * cs * 1000 // n AS BIGINT) AS expected_e3,
           CAST((CAST(n * o - rl * cs AS HUGEINT)
                 * CAST(n * o - rl * cs AS HUGEINT) * 1000000)
                // (n * rl * cs) AS BIGINT) AS contrib_ppm
    FROM cells
    JOIN r ON r.lang = cells.lang
    JOIN c ON c.source = cells.source
    CROSS JOIN t
    """,
)
def q174(spark, sf_dir):
    """One row per OBSERVED (lang, source) cell: observed count,
    independence expectation in exact e3 (floor(R*C*1000/n)), and the
    exact-floored chi-square contribution in ppm.

    Plan: ONE corpus pass builds the contingency cells (langs x
    sources hash agg, map-side partials), checkpointed once (q171
    pattern — it feeds both marginals, the total, and the output
    join); marginals/total are re-aggregations of the domain-sized
    CELLS relation, never a second corpus scan; the arithmetic is
    in-row on cells-sized rows. dev^2 runs in DECIMAL(38,0) on Spark /
    HUGEINT on DuckDB — identical integer values, cast to BIGINT at
    the boundary; past ~10^9 docs per cell pre-scale dev by 1e3 (q77
    widen note)."""
    d = load(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count("*").alias("o"))
    # cells feeds both marginals, the total, AND the output join —
    # materialize the one corpus-scale agg once (q171 pattern)
    cells = cells.transform(materialize)
    r = cells.groupBy("lang").agg(F.sum("o").alias("rl"))
    c = cells.groupBy("source").agg(F.sum("o").alias("cs"))
    t = cells.agg(F.sum("o").alias("n"))
    dev = "cast(n * o - rl * cs as decimal(38,0))"
    return (
        cells.join(F.broadcast(r), "lang")
        .join(F.broadcast(c), "source")
        .crossJoin(F.broadcast(t))
        .select(
            "lang",
            "source",
            F.col("o").cast("bigint").alias("observed"),
            F.expr("cast(rl * cs * 1000 div n as bigint)").alias(
                "expected_e3"
            ),
            F.expr(
                f"cast(({dev} * {dev} * 1000000) div (n * rl * cs)"
                " as bigint)"
            ).alias("contrib_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# q175: exponential recency-decay activity score per user — the
# freshness weight a curation sampler multiplies into per-source or
# per-user selection probabilities (recent activity counts, stale
# activity decays geometrically). Defined over the user's last 8
# DISTINCT active hours: score = sum over recency rank r=1..8 of
# n_events(hour) * 2^-r. All weights are dyadic (denominator 256), so
# the score is computed as an exact INTEGER sum scaled by 256
# (score_x256 = sum n * 2^(8-r)) and divided once at the boundary —
# no floating accumulation, bit-identical on both engines and across
# any partitioning.


@query(
    "q175_decay_activity",
    """
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hr, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT user_id, hr, n,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY hr DESC)
               AS r
      FROM hourly
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           strftime(MAX(hr), '%Y-%m-%d %H:%M:%S') AS last_hour,
           CAST(SUM(n * (1 << (8 - r))) AS BIGINT) AS score_x256,
           CAST(SUM(n * (1 << (8 - r))) AS DOUBLE) / 256.0
             AS decay_score
    FROM ranked WHERE r <= 8
    GROUP BY user_id
    """,
)
def q175(spark, sf_dir):
    """Per-user recency-decayed activity: the last 8 distinct active
    hours weighted 1/2, 1/4, ... 1/256 by recency rank.

    Plan shape: ONE corpus-scale hash agg (user x hour, map-side
    partials) shrinks 10^12 events to O(users x active-hours); the
    recency window then runs over that REDUCED relation partitioned by
    user (hour buckets are distinct within a user, so row_number needs
    no tiebreak), and the final agg keys on user_id again — both
    post-reduction stages are sublinear in the corpus. The score
    arithmetic is pure integer (shiftleft weights), divided by 256
    exactly once, so the double is exact and order-independent."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.col("hr").desc())
    ranked = hourly.withColumn("r", F.row_number().over(w)).filter(
        F.col("r") <= 8
    )
    contrib = F.expr("n * shiftleft(1L, 8 - r)")
    return ranked.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_hours"),
        F.date_format(F.max("hr"), "yyyy-MM-dd HH:mm:ss").alias(
            "last_hour"
        ),
        F.sum(contrib).cast("bigint").alias("score_x256"),
        (F.sum(contrib).cast("double") / F.lit(256.0)).alias(
            "decay_score"
        ),
    )


# ---------------------------------------------------------------------------
# q176: k-center coreset via greedy farthest-point sampling (Gonzalez'
# 2-approximation) — the diversity-driven data-selection step a
# training pipeline runs to pick a small, maximally-spread subset of
# an embedded corpus (coreset for clustering, kmeans++-style seeding,
# diverse eval-set construction). KC_PICKS centers are chosen
# iteratively: seed = min vec_id, then each round picks the vector
# FARTHEST from its nearest already-chosen center (ties -> min
# vec_id). Distances are squared-euclidean in the module's exact
# decimal fold (per-element double subtraction -> decimal(28,12)
# product -> decimal(38,12) sum), so both engines see bit-identical
# doubles and the argmax sequence is deterministic.

KC_PICKS = 6


def _kcenter_oracle_sql() -> str:
    """Unrolled greedy chain: m{i} = running min squared distance to
    the first i centers; c{i} = that round's argmax pick."""
    parts = [
        _EMB_DIMS_CTE,
        """
    , c1 AS (
      SELECT MIN(vec_id) AS cid FROM embeddings WHERE len(embedding) > 0
    ),
    m1 AS (
      SELECT d.vec_id,
             CAST(SUM(CAST((d.v - c.v) * (d.v - c.v) AS DECIMAL(28,12)))
               AS DOUBLE) AS md
      FROM dims d JOIN dims c
        ON c.pos = d.pos AND c.vec_id = (SELECT cid FROM c1)
      GROUP BY 1
    )""",
    ]
    for i in range(2, KC_PICKS + 1):
        parts.append(
            f"""
    , c{i} AS (SELECT vec_id AS cid, md FROM m{i - 1}
               ORDER BY md DESC, vec_id ASC LIMIT 1)"""
        )
        if i < KC_PICKS:
            parts.append(
                f"""
    , s{i} AS (
      SELECT d.vec_id,
             CAST(SUM(CAST((d.v - c.v) * (d.v - c.v) AS DECIMAL(28,12)))
               AS DOUBLE) AS nd
      FROM dims d JOIN dims c
        ON c.pos = d.pos AND c.vec_id = (SELECT cid FROM c{i})
      GROUP BY 1
    ),
    m{i} AS (
      SELECT m.vec_id, LEAST(m.md, s.nd) AS md
      FROM m{i - 1} m JOIN s{i} s ON s.vec_id = m.vec_id
    )"""
            )
    unions = [
        """
    SELECT CAST(1 AS BIGINT) AS pick_order,
           (SELECT cid FROM c1) AS vec_id,
           0.0 AS min_d2_f6"""
    ]
    for i in range(2, KC_PICKS + 1):
        unions.append(
            f"""
    SELECT CAST({i} AS BIGINT), cid, {_floor6_sql("md")} FROM c{i}"""
        )
    return "".join(parts) + "\n    UNION ALL".join(unions)


@query("q176_kcenter_coreset", _kcenter_oracle_sql())
def q176(spark, sf_dir):
    """Greedy farthest-point sampling over the embedding corpus: the
    classic k-center 2-approximation (Gonzalez 1985), which is also
    how kmeans++-style diverse seeds and clustering coresets are drawn
    in training-data curation. Output: (pick_order, vec_id,
    min_d2_f6) — the selection order, the picked vector, and its
    floor6-rounded squared distance to the nearest earlier center at
    selection time (0 for the seed). That distance sequence is
    non-increasing by construction — the audit invariant the unit
    test pins.

    Spark shape: KC_PICKS bounded driver iterations; each is ONE
    map-only corpus pass (the chosen centers are inlined as literals
    via _cent_dist_arr's loop-form exact-decimal distance — the q21/
    q44 broadcast-literal convention, driver state bounded at
    KC_PICKS vectors) followed by a TakeOrderedAndProject(1) argmax —
    zero Exchange nodes per pass. At 10^12 vectors the job is
    KC_PICKS linear scans; an incremental running-min column would
    halve the in-row arithmetic for large K at the cost of K
    corpus-sized materializations, so for K << 100 the
    recompute-from-literals form wins. The oracle unrolls the same
    greedy chain as KC_PICKS chained CTEs over the dims explosion;
    both engines break argmax ties by (md DESC, vec_id ASC) over
    bit-identical exact-decimal doubles."""
    emb = _load_embeddings(spark, sf_dir)
    seed = (
        emb.orderBy("vec_id")
        .limit(1)
        .select("vec_id", "embedding")
        .collect()[0]
    )
    centers = [(int(seed.vec_id), [float(x) for x in seed.embedding])]
    picks = [(1, int(seed.vec_id), 0.0)]
    for i in range(2, KC_PICKS + 1):
        md = F.element_at(_cent_dist_arr(centers), 1).getField("d2")
        far = (
            emb.select("vec_id", "embedding", md.alias("md"))
            .withColumn("md_f6", _floor6(F.col("md")))
            .orderBy(F.desc("md"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        centers.append((int(far.vec_id), [float(x) for x in far.embedding]))
        picks.append((i, int(far.vec_id), float(far.md_f6)))
    return spark.createDataFrame(
        picks, schema="pick_order bigint, vec_id bigint, min_d2_f6 double"
    )


# ---------------------------------------------------------------------------
# q177: quality-classifier calibration — the reliability diagram a
# pipeline reads before trusting a learned/heuristic quality score as
# a sampling probability (e.g. DSIR/CCNet-style quality-weighted
# selection). Predicted probability = the composite quality score;
# outcome label = language-ID agreement (an independent signal, NOT
# derived from the score). Per decile bin of the prediction: mean
# predicted vs observed rate (both exact ppm), the calibration gap,
# and the per-bin Brier contribution — all in exact integer
# arithmetic on the e4-quantized score, so the driver hash gate
# verifies the calibration table itself.


@query(
    "q177_quality_calibration",
    f"""
    WITH scored AS (
      SELECT {textstats.quality_score_e4_sql("text")} AS qe4,
             CASE WHEN {textstats.langid_sql("text")} = lang
                  THEN 1 ELSE 0 END AS y
      FROM documents
    )
    SELECT LEAST(qe4 // 1000, 9) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(qe4)::HUGEINT * 100 // COUNT(*) AS BIGINT)
             AS mean_pred_ppm,
           CAST(SUM(y)::HUGEINT * 1000000 // COUNT(*) AS BIGINT)
             AS obs_ppm,
           CAST(SUM(qe4)::HUGEINT * 100 // COUNT(*)
                - SUM(y)::HUGEINT * 1000000 // COUNT(*) AS BIGINT)
             AS gap_ppm,
           CAST(SUM((qe4 - y * 10000)::HUGEINT
                    * (qe4 - y * 10000)::HUGEINT)
                // COUNT(*) AS BIGINT) AS brier_e8
    FROM scored GROUP BY 1
    """,
)
def q177(spark, sf_dir):
    """Reliability-diagram calibration audit of the quality score
    against language-ID agreement. A well-calibrated score has
    gap_ppm ~ 0 in every bin; a monotone-but-miscalibrated one shows
    a signed gap profile; brier_e8 is the bin's mean squared error
    (x1e8) — sum(brier_e8 * n_docs)/N is the corpus Brier score.

    Spark shape: ONE map-only corpus pass (the e4 score and langid are
    pure codegen string expressions — zero Python) into ONE 10-row
    hash aggregate with map-side partials. Sums widen to
    decimal(38,0)/HUGEINT before the *100/*1e6 scaling (the q77 rule:
    sum(qe4) <= 1e4*N and the Brier sum <= 1e8*N overflow int64 past
    ~1e9/1e10 docs), and every division is integral, so both engines
    emit identical BIGINTs at any corpus size."""
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        textstats.quality_score_e4_col(F.col("text")).alias("qe4"),
        F.when(textstats.langid_col(F.col("text")) == F.col("lang"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("y"),
    )
    wide = "cast(sum(qe4) as decimal(38,0))"
    ywide = "cast(sum(y) as decimal(38,0))"
    brier = (
        "cast(sum(cast(qe4 - y * 10000 as decimal(19,0))"
        " * cast(qe4 - y * 10000 as decimal(19,0))) as decimal(38,0))"
    )
    return (
        scored.groupBy(
            F.least(F.expr("qe4 div 1000"), F.lit(9).cast("bigint")).alias(
                "bin"
            )
        )
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.expr(f"cast({wide} * 100 div count(*) as bigint)").alias(
                "mean_pred_ppm"
            ),
            F.expr(f"cast({ywide} * 1000000 div count(*) as bigint)").alias(
                "obs_ppm"
            ),
            F.expr(
                f"cast({wide} * 100 div count(*)"
                f" - {ywide} * 1000000 div count(*) as bigint)"
            ).alias("gap_ppm"),
            F.expr(f"cast({brier} div count(*) as bigint)").alias(
                "brier_e8"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q178: host-cap budget waterfilling — the per-domain allocation step
# of crawl curation (CCNet/RefinedWeb-style "no host may exceed its
# share" rules): given a corpus-wide document budget B (= total/2
# here), find the LARGEST integer per-host cap c such that
# sum_h min(n_h, c) <= B, allocate min(n_h, c) per host, and hand the
# remainder (provably < #capped hosts) to the largest capped hosts,
# one document each, ties by host name. Everything is exact integer
# arithmetic; the cap comes from the closed-form waterfilling solve
# on the host-count staircase, never from a search loop.


@query(
    "q178_host_waterfill",
    f"""
    WITH h AS (
      SELECT regexp_replace(lower(regexp_extract({_url_expr("varchar")},
               '{_URL_HOST_PAT}', 1)), '^www\\.', '') AS host,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(n) AS BIGINT) // 2 AS b
      FROM h
    ),
    r AS (
      SELECT host, n,
             CAST(ROW_NUMBER() OVER (ORDER BY n ASC, host ASC) AS BIGINT)
               AS i,
             COALESCE(SUM(n) OVER (ORDER BY n ASC, host ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cum_prev
      FROM h
    ),
    s AS (
      SELECT r.*, cum_prev + n * (tot.m - i + 1) AS si FROM r, tot
    ),
    star AS (SELECT COALESCE(MAX(i), 0) AS istar FROM s, tot WHERE si <= tot.b),
    capc AS (
      SELECT CASE
        WHEN star.istar = tot.m THEN (SELECT MAX(n) FROM h)
        WHEN star.istar = 0 THEN tot.b // tot.m
        ELSE (SELECT n FROM s WHERE i = star.istar)
             + (tot.b - (SELECT si FROM s WHERE i = star.istar))
               // (tot.m - star.istar)
      END AS c,
      CASE
        WHEN star.istar = tot.m THEN 0
        WHEN star.istar = 0
          THEN tot.b - tot.m * (tot.b // tot.m)
        ELSE tot.b - (SELECT si FROM s WHERE i = star.istar)
             - (tot.m - star.istar)
               * ((tot.b - (SELECT si FROM s WHERE i = star.istar))
                  // (tot.m - star.istar))
      END AS leftover
      FROM star, tot
    ),
    base AS (
      SELECT h.host, h.n, capc.c AS cap, LEAST(h.n, capc.c) AS alloc0,
             h.n > capc.c AS capped, capc.leftover AS lo
      FROM h, capc
    ),
    ranked AS (
      SELECT base.*,
             CAST(ROW_NUMBER() OVER (ORDER BY capped DESC, n DESC,
               host ASC) AS BIGINT) AS br
      FROM base
    )
    SELECT host, n AS n_docs, CAST(cap AS BIGINT) AS cap,
           CAST(alloc0 + CASE WHEN capped AND br <= lo THEN 1 ELSE 0 END
                AS BIGINT) AS alloc,
           capped
    FROM ranked
    """,
)
def q178(spark, sf_dir):
    """Waterfilling host caps. The cap is solved in closed form on the
    sorted host staircase: with hosts ascending by count, S(v_i) =
    sum_{j<i} n_j + n_i*(m-i+1) is the allocation if the cap were
    v_i; the solve finds i* = max i with S(v_i) <= B, then
    c = v_{i*} + (B - S_{i*}) div (m - i*) — the remainder after
    min(n,c) is strictly less than the number of capped hosts (else c
    would not be maximal), so the +1 bumps are well-defined. Output
    invariant (pinned by the unit test): sum(alloc) = min(B, total).

    Spark shape (round-5 restatement — q226 histogram discipline,
    ZERO global windows): S(v_i) is CONSTANT within an equal-count
    run (each step adds v to the prefix sum and removes v from the
    tail term), so the whole staircase lives on the per-count
    HISTOGRAM (n -> cnt), not the host relation: ascending
    cumulative (hosts, docs) below each count value come from
    windows PARTITIONED by the count's bit-length band (<=64
    disjoint, value-ordered bands) plus band offsets from a <=64-row
    broadcast self-join; i* is then one filter + max_by scalar probe
    (the staged_ivf scalar-pushdown convention — the old plan ranked
    EVERY host on one sort partition, 10^7-10^8 rows at web scale).
    The +1 bumps — the `leftover` highest-count capped hosts,
    host-asc tie-break — restate as a threshold read off the SAME
    histogram CDF (hosts above the threshold count all bump; no rank
    needed) plus an in-tie lexicographic pick banded by 2-char host
    prefix (partitioned window + prefix-histogram offsets), so no
    host-relation window exists anywhere. ONE corpus-scale stage —
    the hosts hash aggregate (map-side partials), materialized once
    (q174 pattern: feeds the histogram, the tie pick, and the
    output)."""
    d = load(spark, sf_dir, "documents")
    host = F.regexp_replace(
        F.lower(
            F.regexp_extract(F.expr(_url_expr("string")), _URL_HOST_PAT, 1)
        ),
        r"^www\.",
        "",
    )
    h = (
        d.groupBy(host.alias("host"))
        .agg(F.count("*").cast("bigint").alias("n"))
        .transform(materialize)
    )
    # Per-count histogram: one row per distinct host-count value. Its
    # ascending CDF (hosts/docs strictly below each value) comes from
    # the shared banded-prefix helper — the same implementation q226's
    # descending CDF and the tie rank below use.
    hist = (
        h.groupBy("n")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .transform(materialize)  # feeds in-band CDF, band totals, 2 probes
    )
    tot = hist.agg(
        F.sum(F.col("cnt") * F.col("n")).cast("bigint").alias("total"),
        F.sum("cnt").cast("bigint").alias("m"),
    ).collect()[0]
    total, m, b = int(tot.total), int(tot.m), int(tot.total) // 2
    cdf = (
        _banded_prefix(
            hist,
            "n",
            {
                "cum_u": F.col("cnt"),
                "cum_s": F.col("cnt") * F.col("n"),
            },
            band=F.expr("length(bin(n))"),
        )
        .withColumn("below_u", F.col("cum_u") - F.col("cnt"))
        .withColumn(
            "below_s", F.col("cum_s") - F.col("cnt") * F.col("n")
        )
        .withColumn(
            "si", F.col("below_s") + F.col("n") * (m - F.col("below_u"))
        )
        .transform(materialize)  # two bounded scalar probes read it
    )
    star = cdf.filter(F.col("si") <= b).agg(
        F.max_by(F.struct("n", "cnt", "below_u", "si"), F.col("n")).alias("s")
    ).collect()[0].s
    if star is None:  # even the smallest host count over-spends the budget
        istar, c = 0, b // m
        leftover = b - m * c
    elif int(star.below_u) + int(star.cnt) == m:  # total <= B: nobody capped
        istar, c, leftover = m, int(star.n), 0
    else:
        istar = int(star.below_u) + int(star.cnt)
        k = m - istar
        c = int(star.n) + (b - int(star.si)) // k
        leftover = b - int(star.si) - k * ((b - int(star.si)) // k)
    base = h.select(
        "host",
        F.col("n").alias("n_docs"),
        F.lit(c).cast("bigint").alias("cap"),
        F.least(F.col("n"), F.lit(c)).alias("alloc0"),
        (F.col("n") > c).alias("capped"),
    )
    # Bump set = the `leftover` first capped hosts by (n DESC, host
    # ASC) = everything above a threshold count v_t, plus the r
    # lexicographically-first hosts AT v_t — v_t/r read off the cdf
    # (above = hosts with count > n), never a host ranking.
    bump_cond = F.lit(False)
    if leftover > 0:
        vt_rows = (
            cdf.filter(F.col("n") > c)
            .withColumn("above", m - F.col("below_u") - F.col("cnt"))
            .filter(
                (F.col("above") < leftover)
                & (F.lit(leftover) <= F.col("above") + F.col("cnt"))
            )
            .collect()
        )
        if not vt_rows:  # leftover >= #capped (defensive): bump all capped
            v_t, r = c, 0
        else:
            v_t = int(vt_rows[0].n)
            r = leftover - int(vt_rows[0].above)
        bump_cond = F.col("n_docs") > v_t
        if r > 0:
            # lexicographic rank within the tie group, banded by
            # 2-char host prefix — the same _banded_prefix machinery
            # (a weight of 1 over a unique key IS row_number)
            bump_hosts = (
                _banded_prefix(
                    h.filter(F.col("n") == v_t).select("host"),
                    "host",
                    {"tie_rank": F.lit(1)},
                    band=F.substring("host", 1, 2),
                )
                .filter(F.col("tie_rank") <= r)
                .select(F.col("host").alias("bh"), F.lit(True).alias("bump"))
            )
            base = base.join(
                bump_hosts, F.col("host") == F.col("bh"), "left"
            ).drop("bh")
            bump_cond = bump_cond | F.coalesce(F.col("bump"), F.lit(False))
    return base.select(
        "host",
        "n_docs",
        "cap",
        (F.col("alloc0") + F.when(bump_cond, 1).otherwise(0))
        .cast("bigint")
        .alias("alloc"),
        "capped",
    )


# ---------------------------------------------------------------------------
# q179: crawl-batch novelty curve — dedup ROI over ingest order. Docs
# are bucketed into crawl batches by doc_id (the corpus' ingest-order
# proxy); per batch, how many of its DISTINCT 5-gram shingles appear
# here for the FIRST time (min doc_id over the posting relation)?
# A healthy crawl keeps novelty high; a saturating one decays — this
# curve is what decides when re-crawling a source stops paying for
# its dedup cost. Shares the dupspan family's tokenizer and 48-bit
# in-row gram hashing (q107); grams are per-doc DISTINCT in-row, so
# no DISTINCT shuffle ever runs.

NOVELTY_BATCH = 100


@query(
    "q179_novelty_curve",
    f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok,
             generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1)
               AS pos
      FROM documents
    ), g AS (
      SELECT doc_id,
             tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w
                 || ' ' || lead(tok,3) OVER w || ' ' || lead(tok,4) OVER w
               AS gram
      FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), h AS (
      SELECT DISTINCT doc_id, ('0x' || substr(md5(gram), 1, 12))::BIGINT AS gh
      FROM g WHERE gram IS NOT NULL
    ), fst AS (SELECT gh, MIN(doc_id) AS fd FROM h GROUP BY gh),
    m AS (
      SELECT h.doc_id,
             CASE WHEN h.doc_id = f.fd THEN 1 ELSE 0 END AS novel
      FROM h JOIN fst f USING (gh)
    ),
    gb AS (
      SELECT doc_id // {NOVELTY_BATCH} AS batch,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(novel) AS BIGINT) AS n_novel
      FROM m GROUP BY 1
    ),
    db AS (
      SELECT doc_id // {NOVELTY_BATCH} AS batch,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1
    )
    SELECT db.batch, db.n_docs,
           COALESCE(gb.n_grams, 0) AS n_grams,
           COALESCE(gb.n_novel, 0) AS n_novel,
           CAST(CASE WHEN COALESCE(gb.n_grams, 0) = 0 THEN 0
                ELSE gb.n_novel::HUGEINT * 1000000 // gb.n_grams
                END AS BIGINT) AS novelty_ppm
    FROM db LEFT JOIN gb ON gb.batch = db.batch
    """,
)
def q179(spark, sf_dir):
    """Per-batch shingle novelty (first-occurrence share).

    Spark shape: per-doc DISTINCT gram hashes are built IN-ROW
    (array_distinct over the transform — q107's rule: 8-byte keys,
    no DISTINCT shuffle), exploded once into the posting relation;
    first-occurrence is ONE map-side-partial MIN aggregate on gh; the
    novelty mark is a self-equi-join on gh that AQE runs
    co-partitioned with the agg's exchange. Batch roll-ups derive the
    batch key in-row from doc_id (div {NOVELTY_BATCH}) so both final
    aggs are map-side-partial; the doc-count spine LEFT-joins the
    gram-side so zero-gram batches (all-short docs) still report.
    Linear end-to-end — gram-grain, never pair-grain: a 10^6-df
    boilerplate shingle costs 10^6 posting rows. The ppm numerator
    widens to decimal(38,0)/HUGEINT (q77 rule)."""
    d = load(spark, sf_dir, "documents")
    K = DUPSPAN_K
    toks_df = _dupspan_toks(d)
    gh_distinct = F.expr(
        f"CASE WHEN size(toks) >= {K} THEN "
        f"array_distinct(transform(sequence(1, size(toks) - {K - 1}),"
        f" i -> {_DUPSPAN_GRAM_HASH}))"
        " ELSE array() END"
    )
    posts = toks_df.select(
        "doc_id", F.explode(gh_distinct).alias("gh")
    )
    fst = posts.groupBy("gh").agg(F.min("doc_id").alias("fd"))
    marked = posts.join(fst, "gh").select(
        F.expr(f"doc_id div {NOVELTY_BATCH}").alias("batch"),
        F.when(F.col("doc_id") == F.col("fd"), 1)
        .otherwise(0)
        .alias("novel"),
    )
    gb = marked.groupBy("batch").agg(
        F.count("*").cast("bigint").alias("n_grams"),
        F.sum("novel").cast("bigint").alias("n_novel"),
    )
    db = d.groupBy(
        F.expr(f"doc_id div {NOVELTY_BATCH}").alias("batch")
    ).agg(F.count("*").cast("bigint").alias("n_docs"))
    return db.join(gb, "batch", "left").select(
        "batch",
        "n_docs",
        F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
        F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
        F.expr(
            "cast(case when coalesce(n_grams, 0) = 0 then 0"
            " else cast(n_novel as decimal(38,0)) * 1000000 div n_grams"
            " end as bigint)"
        ).alias("novelty_ppm"),
    )


# ---------------------------------------------------------------------------
# q180: context-window truncation waste — for each training context
# length L in the grid, how many tokens per source fall beyond L and
# are lost when documents are truncated (not packed)? The table that
# decides between truncation and sequence-packing (q74) per source,
# and which L a fine-tune run should buy. One corpus map pass; the
# L-grid fans out IN-ROW (explode of a 4-element literal array — no
# join), so the aggregate is one (sources x |grid|)-row hash agg with
# map-side partials.

TRUNC_GRID = (512, 1024, 2048, 4096)


@query(
    "q180_truncation_waste",
    f"""
    WITH nt AS (
      SELECT source, {textstats.token_count_sql("text")} AS n
      FROM documents
    ), fan AS (
      SELECT source, n, l.ctx
      FROM nt CROSS JOIN (VALUES {", ".join(f"({L})" for L in TRUNC_GRID)})
        AS l(ctx)
    )
    SELECT source, CAST(ctx AS BIGINT) AS ctx,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN n > ctx THEN n - ctx ELSE 0 END) AS BIGINT)
             AS lost_tokens,
           CAST(SUM(CASE WHEN n > ctx THEN 1 ELSE 0 END) AS BIGINT)
             AS n_truncated,
           CAST(CASE WHEN SUM(n) = 0 THEN 0
                ELSE SUM(CASE WHEN n > ctx THEN n - ctx ELSE 0 END)::HUGEINT
                     * 1000000 // SUM(n)
                END AS BIGINT) AS waste_ppm
    FROM fan GROUP BY source, ctx
    """,
)
def q180(spark, sf_dir):
    """Truncation-waste grid per (source, context length).

    Spark shape: token counts are pure codegen (textstats twins); the
    grid fan-out is an in-row posexplode of a literal array — 4x row
    multiplication inside the map stage, never a join — and the only
    shuffle is the (sources x 4)-row hash aggregate, map-side
    partial. The ppm numerator widens to decimal(38,0)/HUGEINT
    (q77 rule: lost_tokens*1e6 passes int64 near 10^13 corpus
    tokens). At 10^12 docs: one scan, one domain-sized exchange."""
    d = load(spark, sf_dir, "documents")
    nt = d.select(
        "source", textstats.token_count_col(F.col("text")).alias("n")
    )
    fan = nt.select(
        "source",
        "n",
        F.explode(
            F.array(*[F.lit(L).cast("bigint") for L in TRUNC_GRID])
        ).alias("ctx"),
    )
    lost = "sum(case when n > ctx then n - ctx else 0 end)"
    return fan.groupBy("source", "ctx").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n").cast("bigint").alias("total_tokens"),
        F.expr(f"cast({lost} as bigint)").alias("lost_tokens"),
        F.expr(
            "cast(sum(case when n > ctx then 1 else 0 end) as bigint)"
        ).alias("n_truncated"),
        F.expr(
            f"cast(case when sum(n) = 0 then 0"
            f" else cast({lost} as decimal(38,0)) * 1000000 div sum(n)"
            f" end as bigint)"
        ).alias("waste_ppm"),
    )


# ---------------------------------------------------------------------------
# q181: lexicon document filter — the C4-style "flagged-term" stage:
# a document containing ANY term from a configured blocklist lexicon
# (word-boundary, case-insensitive) is dropped wholesale, and the
# per-source report shows what that rule costs. The lexicon below is
# placeholder CONFIG (a real deployment loads its compliance list);
# it deliberately includes two words from the synthetic fixture
# vocabulary so the live oracle gate exercises non-zero hit paths.

LEXICON_TERMS = ("casino", "lotterie", "gewinnspiel", "slow", "stream")


@query(
    "q181_lexicon_filter",
    f"""
    WITH scored AS (
      SELECT source,
             {textstats.term_count_sql("text", LEXICON_TERMS)} AS hits,
             {textstats.token_count_sql("text")} AS toks
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END)::HUGEINT
                * 1000000 // COUNT(*) AS BIGINT) AS flagged_ppm,
           CAST(SUM(hits) AS BIGINT) AS total_hits,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN hits > 0 THEN toks ELSE 0 END) AS BIGINT)
             AS tokens_lost,
           CAST(CASE WHEN SUM(toks) = 0 THEN 0
                ELSE SUM(CASE WHEN hits > 0 THEN toks ELSE 0 END)::HUGEINT
                     * 1000000 // SUM(toks)
                END AS BIGINT) AS lost_ppm
    FROM scored GROUP BY source
    """,
)
def q181(spark, sf_dir):
    """Per-source cost report of the blocklist-lexicon document
    filter: how many documents the rule drops, total term hits, and
    the token mass lost — the audit a pipeline reads before enabling
    a new compliance lexicon (C4's bad-words stage dropped ~5% of
    Common Crawl; this table is how you find out BEFORE committing).

    Spark shape: the lexicon scan is ONE codegen regexp-split per doc
    (textstats.term_count twins — the split-minus-one occurrence
    rule, identical in both engines), so the whole query is one
    map-only pass into a sources-sized hash agg with map-side
    partials; ppm numerators widen to decimal(38,0)/HUGEINT (q77
    rule). Lexicon size scales the regexp alternation, not the plan:
    a 10^4-term list compiles once per task. At 10^12 docs: one scan,
    one domain-sized exchange."""
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        textstats.term_count_col(F.col("text"), LEXICON_TERMS).alias(
            "hits"
        ),
        textstats.token_count_col(F.col("text")).alias("toks"),
    )
    flagged = "sum(case when hits > 0 then 1 else 0 end)"
    lost = "sum(case when hits > 0 then toks else 0 end)"
    return scored.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.expr(f"cast({flagged} as bigint)").alias("n_flagged"),
        F.expr(
            f"cast(cast({flagged} as decimal(38,0)) * 1000000"
            " div count(*) as bigint)"
        ).alias("flagged_ppm"),
        F.sum("hits").cast("bigint").alias("total_hits"),
        F.sum("toks").cast("bigint").alias("total_tokens"),
        F.expr(f"cast({lost} as bigint)").alias("tokens_lost"),
        F.expr(
            f"cast(case when sum(toks) = 0 then 0"
            f" else cast({lost} as decimal(38,0)) * 1000000 div sum(toks)"
            f" end as bigint)"
        ).alias("lost_ppm"),
    )


# ---------------------------------------------------------------------------
# q182: invoice line-item reconciliation — the arithmetic validation
# a user of the reference runs over its typed invoice output
# (InvoiceData.items / totals, ref extractor.py:19-29): do the line
# items actually sum to the stated total? The fixture invoice text is
# constructed deterministically from doc_id by BOTH engines (the
# q54/q91 pattern), with a planted off-by-one-cent total on every
# doc_id % 7 == 0 — so the audit provably detects real mismatches and
# the oracle gate checks the detection itself. German-locale amounts
# (decimal comma), exact integer cents end to end.


def _inv_rec_fmt(cents: str, dialect: str) -> str:
    """cents -> 'E,CC' German-locale string, exact integer ops."""
    if dialect == "duck":
        return (
            f"(({cents}) // 100) || ',' ||"
            f" lpad(CAST(({cents}) % 100 AS VARCHAR), 2, '0')"
        )
    return (
        f"concat(cast(({cents}) div 100 as string), ',',"
        f" lpad(cast(({cents}) % 100 as string), 2, '0'))"
    )


def _inv_rec_text(dialect: str) -> str:
    """The deterministic multi-item invoice fixture: k = 1 + id%4
    items of ((id*37 + i*13) % 50000) + 1 cents; stated total is the
    true sum, +1 planted cent when id % 7 == 0."""
    item = "(((doc_id*37 + i*13) % 50000) + 1)"
    tot = (
        "CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END"
        if dialect == "duck"
        else "(case when doc_id % 7 = 0 then 1 else 0 end)"
    )
    if dialect == "duck":
        items = (
            "array_to_string(list_transform(range(1 + doc_id % 4),"
            f" i -> 'POS ' || {_inv_rec_fmt(item, 'duck')}), ' ')"
        )
        s = (
            "(list_sum(list_transform(range(1 + doc_id % 4),"
            f" i -> {item})) + {tot})"
        )
        return (
            f"'RECHNUNG R-' || doc_id || ' ' || {items}"
            f" || ' SUMME ' || {_inv_rec_fmt(s, 'duck')}"
        )
    items = (
        "array_join(transform(sequence(0, doc_id % 4),"
        f" i -> concat('POS ', {_inv_rec_fmt(item, 'spark')})), ' ')"
    )
    s = (
        "(aggregate(transform(sequence(0, doc_id % 4),"
        f" i -> {item}), 0L, (a, x) -> a + x) + {tot})"
    )
    return (
        f"concat('RECHNUNG R-', cast(doc_id as string), ' ', {items},"
        f" ' SUMME ', {_inv_rec_fmt(s, 'spark')})"
    )


@query(
    "q182_invoice_reconcile",
    f"""
    WITH inv AS (
      SELECT doc_id, {_inv_rec_text('duck')} AS txt FROM documents
    ),
    parsed AS (
      SELECT doc_id,
        list_transform(regexp_extract_all(txt, 'POS ([0-9]+,[0-9]{{2}})', 1),
          x -> CAST(split_part(x, ',', 1) AS BIGINT) * 100
               + CAST(split_part(x, ',', 2) AS BIGINT)) AS items,
        CAST(regexp_extract(txt, 'SUMME ([0-9]+),[0-9]{{2}}', 1) AS BIGINT)
          * 100
          + CAST(regexp_extract(txt, 'SUMME [0-9]+,([0-9]{{2}})', 1)
                 AS BIGINT) AS total_cents
      FROM inv
    )
    SELECT doc_id,
           CAST(len(items) AS BIGINT) AS n_items,
           CAST(list_sum(items) AS BIGINT) AS items_sum_cents,
           total_cents,
           CAST(total_cents - list_sum(items) AS BIGINT) AS delta_cents,
           total_cents = list_sum(items) AS ok
    FROM parsed
    """,
)
def q182(spark, sf_dir):
    """Per-invoice reconciliation of extracted line items against the
    stated total. ok=false rows are exactly the doc_id % 7 == 0
    plants (delta +1 cent) — pinned by the unit test.

    Spark shape: strictly map-only, one WholeStageCodegen pass —
    fixture construction, regexp_extract_all of the POS amounts, the
    in-row cents parse (split on the locale comma), the exact integer
    fold, and the comparison all happen per row with zero shuffles
    and zero Python. At 10^12 docs this is a single scan; the
    regexes are RE2 ∩ Java ∩ Python (functions/pii.py dialect
    rules), and all money stays in integer cents (never floats —
    the reference's float totals, extractor.py:28, are exactly what
    this audit would miscount with)."""
    d = load(spark, sf_dir, "documents")
    inv = d.select(
        "doc_id", F.expr(_inv_rec_text("spark")).alias("txt")
    )
    items = F.expr(
        "transform(regexp_extract_all(txt, 'POS ([0-9]+,[0-9]{2})', 1),"
        " x -> cast(split(x, ',')[0] as bigint) * 100"
        " + cast(split(x, ',')[1] as bigint))"
    )
    total = F.expr(
        "cast(regexp_extract(txt, 'SUMME ([0-9]+),[0-9]{2}', 1) as bigint)"
        " * 100"
        " + cast(regexp_extract(txt, 'SUMME [0-9]+,([0-9]{2})', 1)"
        " as bigint)"
    )
    parsed = inv.select(
        "doc_id", items.alias("items"), total.alias("total_cents")
    )
    ssum = F.expr("aggregate(items, 0L, (a, x) -> a + x)")
    return parsed.select(
        "doc_id",
        F.size("items").cast("bigint").alias("n_items"),
        ssum.alias("items_sum_cents"),
        "total_cents",
        (F.col("total_cents") - ssum).cast("bigint").alias("delta_cents"),
        (F.col("total_cents") == ssum).alias("ok"),
    )


# ---------------------------------------------------------------------------
# q183: Wilson lower-bound source ranking — ranking sources by their
# keep rate (q39's rule) is wrong for small sources: a 3-doc source
# with 3 keeps beats a 10^6-doc source at 99.9% on the raw rate. The
# Wilson score interval's lower bound (z = 2, so z^2 = 4 stays
# integer) penalizes small n exactly the way a curation decision
# needs. LB = (k + 2 - 2*sqrt(k*(n-k)/n + 1)) / (n + 4); sqrt is
# IEEE-correctly-rounded in both engines and its argument is built
# from identical exact integers, so the floored ppm is engine-stable.


@query(
    "q183_wilson_source_rank",
    f"""
    WITH scored AS (
      SELECT source,
             CASE WHEN {textstats.quality_score_sql("text")} >= 0.5
                       AND {textstats.langid_sql("text")} = lang
                  THEN 1 ELSE 0 END AS keep
      FROM documents
    ),
    agg AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(keep) AS BIGINT) AS k
      FROM scored GROUP BY source
    ),
    lb AS (
      SELECT source, n, k,
             CAST(k::HUGEINT * 1000000 // n AS BIGINT) AS keep_ppm,
             CAST(floor(
               (k + 2 - 2 * sqrt(CAST(k::HUGEINT * (n - k) AS DOUBLE) / n
                                 + 1.0))
               / (n + 4) * 1000000.0) AS BIGINT) AS wilson_lb_ppm
      FROM agg
    )
    SELECT source, n, k, keep_ppm, wilson_lb_ppm,
           CAST(ROW_NUMBER() OVER (ORDER BY wilson_lb_ppm DESC, source ASC)
                AS BIGINT) AS rnk
    FROM lb
    """,
)
def q183(spark, sf_dir):
    """Per-source keep counts, raw keep ppm, Wilson(z=2) lower-bound
    ppm, and the resulting rank. The LB shrinks toward 1/2 + penalty
    as n shrinks — the unit test pins a small perfect source ranking
    BELOW a large near-perfect one, the exact inversion the raw rate
    gets wrong.

    Spark shape: ONE map-only codegen pass (score + langid twins)
    into a sources-sized hash agg with map-side partials; the Wilson
    arithmetic and the ranking window run on the DOMAIN-sized
    relation (q150's histogram-window rule — the corpus is never
    sorted). k*(n-k) widens to decimal(38,0)/HUGEINT before the
    double division (past ~10^9 docs/source it overflows int64 — the
    q77 rule); sqrt inputs are bit-identical doubles on both engines,
    so floor(...*1e6) matches exactly."""
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        F.when(
            (textstats.quality_score_col(F.col("text")) >= 0.5)
            & (textstats.langid_col(F.col("text")) == F.col("lang")),
            1,
        )
        .otherwise(0)
        .alias("keep"),
    )
    agg = scored.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("keep").cast("bigint").alias("k"),
    )
    lb = agg.select(
        "source",
        "n",
        "k",
        F.expr(
            "cast(cast(k as decimal(38,0)) * 1000000 div n as bigint)"
        ).alias("keep_ppm"),
        F.expr(
            "cast(floor((k + 2 - 2 * sqrt("
            "cast(cast(k as decimal(38,0)) * (n - k) as double) / n"
            " + 1.0d)) / (n + 4) * 1000000.0d) as bigint)"
        ).alias("wilson_lb_ppm"),
    )
    w = Window.orderBy(F.desc("wilson_lb_ppm"), F.asc("source"))
    return lb.withColumn(
        "rnk", F.row_number().over(w).cast("bigint")
    )


# ---------------------------------------------------------------------------
# q184: padding waste under power-of-2 length bucketing — the
# batching-efficiency complement to q180 (truncation) and q74
# (packing): when sequences are batched by rounding each length UP to
# the next power of two (the standard bucketed-batching scheme), how
# many pad tokens does each source burn? bucket(n) = 2^ceil(log2 n),
# computed EXACTLY via binary-representation length (q129's rule:
# floor(log2 n) = length(bin(n)) - 1 — no floating log), so both
# engines agree bit-for-bit on every bucket boundary (log2-based
# rounding is off-by-one exactly AT the boundaries, where it matters
# most).


@query(
    "q184_padding_waste",
    f"""
    WITH nt AS (
      SELECT source, {textstats.token_count_sql("text")} AS n
      FROM documents
    ),
    b AS (
      SELECT source, n,
             CASE WHEN n <= 1 THEN CAST(n AS BIGINT)
                  ELSE CAST(1 AS BIGINT) << (length(ltrim(bin(n - 1), '0')))
             END AS bucket
      FROM nt
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_tokens,
           CAST(SUM(bucket) AS BIGINT) AS total_slots,
           CAST(SUM(bucket - n) AS BIGINT) AS pad_tokens,
           CAST(CASE WHEN SUM(bucket) = 0 THEN 0
                ELSE SUM(bucket - n)::HUGEINT * 1000000 // SUM(bucket)
                END AS BIGINT) AS pad_ppm
    FROM b GROUP BY source
    """,
)
def q184(spark, sf_dir):
    """Per-source pad-token waste if every document is padded to its
    power-of-2 length bucket. ceil(log2 n) for n >= 2 is
    floor(log2(n-1)) + 1 = (number of significant bits of n-1), read
    off the zero-stripped binary string — exact integers end to end;
    n in {0, 1} buckets to itself.

    Spark shape: one map-only codegen pass (token count + the bin()
    bucket rule — zero Python, zero log/pow doubles) into a
    sources-sized map-side-partial hash agg; the ppm numerator widens
    to decimal(38,0)/HUGEINT (q77 rule). At 10^12 docs: one scan,
    one domain-sized exchange. The worst case of this scheme is
    bounded at 50% waste (len = 2^j + 1); the table shows where a
    finer bucket grid or q74's packing pays."""
    d = load(spark, sf_dir, "documents")
    nt = d.select(
        "source", textstats.token_count_col(F.col("text")).alias("n")
    )
    b = nt.withColumn(
        "bucket",
        F.expr(
            "case when n <= 1 then cast(n as bigint)"
            " else shiftleft(1L,"
            " length(ltrim('0', bin(n - 1))))"
            " end"
        ),
    )
    pad = "sum(bucket - n)"
    return b.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n").cast("bigint").alias("total_tokens"),
        F.sum("bucket").cast("bigint").alias("total_slots"),
        F.expr(f"cast({pad} as bigint)").alias("pad_tokens"),
        F.expr(
            f"cast(case when sum(bucket) = 0 then 0"
            f" else cast({pad} as decimal(38,0)) * 1000000"
            f" div sum(bucket) end as bigint)"
        ).alias("pad_ppm"),
    )


# ---------------------------------------------------------------------------
# q185: rolling 7-day distinct-user HLL merge — the property that
# justifies sketches at 10^12 rows is MERGEABILITY: a day's register
# vector is built once, and any window over days is a register-wise
# MAX union — no re-scan of the raw events. This query materializes
# per-day HLL sketches (q59's reproducible md5 registers), merges
# them over a trailing 7-day window, computes the integer-exact HLL
# estimate, and audits it against the true windowed COUNT(DISTINCT)
# — estimate, truth, and error ppm all engine-stable. The window
# merge is an OFFSET-EXPLODED EQUI-join (each day's sketch is
# re-keyed to the 7 windows it serves), never a range join.

HLL_ALPHA64_E3 = 709  # alpha_64 ~= 0.709 (Flajolet et al. 2007), rational


@query(
    "q185_rolling_hll",
    f"""
    WITH offs AS (
      SELECT CAST(unnest(range(7)) AS INTEGER) AS off
    ),
    dd AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events
    ),
    days AS (SELECT DISTINCT day FROM dd),
    ex AS (
      SELECT f.tday, CAST(COUNT(DISTINCT f.user_id) AS BIGINT) AS exact_users,
             CAST(COUNT(DISTINCT f.day) AS BIGINT) AS window_days
      FROM (SELECT dd.day + off AS tday, dd.day, dd.user_id
            FROM dd CROSS JOIN offs) f
      JOIN days ON days.day = f.tday
      GROUP BY f.tday
    ),
    hh AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             ('0x' || substr(md5('u:' || user_id), 1, 12))::BIGINT AS h48
      FROM events
    ),
    reg AS (
      SELECT day, h48 // {1 << HLL_SUFFIX_BITS} AS register,
             MAX(CASE WHEN h48 % {1 << HLL_SUFFIX_BITS} = 0
                      THEN {HLL_SUFFIX_BITS + 1}
                      ELSE {HLL_SUFFIX_BITS + 1}
                           - length(bin(h48 % {1 << HLL_SUFFIX_BITS}))
                 END) AS rho
      FROM hh GROUP BY 1, 2
    ),
    merged AS (
      SELECT f.tday, f.register, MAX(f.rho) AS mr
      FROM (SELECT day + off AS tday, register, rho
            FROM reg CROSS JOIN offs) f
      JOIN days ON days.day = f.tday
      GROUP BY 1, 2
    ),
    z AS (
      SELECT tday, COUNT(*) AS mobs,
             SUM(1::HUGEINT << ({HLL_SUFFIX_BITS + 1} - mr)) AS zobs
      FROM merged GROUP BY tday
    ),
    est AS (
      SELECT tday,
             CAST({HLL_ALPHA64_E3}::HUGEINT * {HLL_M} * {HLL_M}
                  * (1::HUGEINT << {HLL_SUFFIX_BITS + 1})
                  // (1000 * (zobs + ({HLL_M} - mobs)
                      * (1::HUGEINT << {HLL_SUFFIX_BITS + 1})))
               AS BIGINT) AS hll_est
      FROM z
    )
    SELECT strftime(ex.tday, '%Y-%m-%d') AS day,
           ex.window_days, ex.exact_users, est.hll_est,
           CAST(abs(est.hll_est - ex.exact_users)::HUGEINT * 1000000
                // ex.exact_users AS BIGINT) AS err_ppm
    FROM ex JOIN est ON est.tday = ex.tday
    """,
)
def q185(spark, sf_dir):
    """Trailing-7-day distinct users: exact vs merged-HLL estimate.

    Spark shape, sketch path: one events scan -> (day, register) MAX
    agg (map-side partials collapse each task to days x {HLL_M}
    rows); the 7-day window re-keys that DOMAIN-sized relation by
    exploding offsets 0..6 in-row and re-aggregating MAX on the new
    equi-key — the merge union costs 7x a days x {HLL_M} relation,
    NEVER a second corpus scan and never a range join. The estimate
    is pure integer: Z scaled by 2^{HLL_SUFFIX_BITS + 1} (each
    register contributes 2^(sb+1-rho); empty registers 2^(sb+1)),
    alpha_64 as the rational {HLL_ALPHA64_E3}/1000, one integral
    division in decimal(38,0)/HUGEINT. Exact path (the audit — at
    10^12 rows you'd sample it): distinct (day,user) once, offset
    fan-out, windowed COUNT DISTINCT. The unit test pins mergeability
    (merged sketch == sketch of the union) and the estimate's
    accuracy on a known cardinality."""
    sb = HLL_SUFFIX_BITS
    ev = load(spark, sf_dir, "events")
    offs = F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off")
    dd = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    days = dd.select("day").distinct()
    fan = dd.select("day", "user_id", offs).select(
        F.date_add("day", F.col("off")).alias("tday"), "day", "user_id"
    )
    ex = (
        fan.join(days.withColumnRenamed("day", "tday"), "tday")
        .groupBy("tday")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("exact_users"),
            F.countDistinct("day").cast("bigint").alias("window_days"),
        )
    )
    hh = ev.select(
        F.to_date("ts").alias("day"),
        F.expr(
            "cast(conv(substring(md5(concat('u:',"
            " cast(user_id as string))), 1, 12), 16, 10) as bigint)"
        ).alias("h48"),
    )
    reg = hh.select(
        "day",
        F.expr(f"h48 div {1 << sb}").alias("register"),
        F.expr(
            f"case when h48 % {1 << sb} = 0 then {sb + 1}"
            f" else {sb + 1} - length(bin(h48 % {1 << sb})) end"
        ).alias("rho"),
    ).groupBy("day", "register").agg(F.max("rho").alias("rho"))
    mfan = reg.select("day", "register", "rho", offs).select(
        F.date_add("day", F.col("off")).alias("tday"), "register", "rho"
    )
    merged = (
        mfan.join(days.withColumnRenamed("day", "tday"), "tday")
        .groupBy("tday", "register")
        .agg(F.max("rho").alias("mr"))
    )
    z = merged.groupBy("tday").agg(
        F.count("*").alias("mobs"),
        F.sum(F.expr(f"shiftleft(1L, {sb + 1} - mr)")).alias("zobs"),
    )
    est = z.select(
        "tday",
        F.expr(
            f"cast(cast({HLL_ALPHA64_E3} as decimal(38,0)) * {HLL_M}"
            f" * {HLL_M} * shiftleft(1L, {sb + 1})"
            f" div (1000 * (zobs + ({HLL_M} - mobs)"
            f" * shiftleft(1L, {sb + 1}))) as bigint)"
        ).alias("hll_est"),
    )
    return ex.join(est, "tday").select(
        F.date_format("tday", "yyyy-MM-dd").alias("day"),
        "window_days",
        "exact_users",
        "hll_est",
        F.expr(
            "cast(cast(abs(hll_est - exact_users) as decimal(38,0))"
            " * 1000000 div exact_users as bigint)"
        ).alias("err_ppm"),
    )


# ---------------------------------------------------------------------------
# q186: mergeable histogram quantiles — the q185 story for QUANTILES:
# exact percentiles (q57) need the value histogram of the full key
# domain; a bounded MERGEABLE summary (t-digest/q-digest family) is
# what ships between executors at 10^12 rows. Here: per-source
# n_chars histograms over sqrt-spaced buckets (bucket = isqrt(n) —
# integer-exact, q131's floor-sqrt rule, ~316 buckets for n_chars up
# to 10^5), merged to the global summary by plain addition, then
# P50/P90/P99 estimated from the merged histogram (bucket upper edge
# at the cumulative cut — a conservative upper estimate) and audited
# against the EXACT corpus percentiles computed from the full value
# histogram. Estimate, truth, and signed error are all integers.


@query(
    "q186_histogram_quantiles",
    f"""
    WITH h AS (
      SELECT source,
             CAST(floor(sqrt(n_chars)) AS BIGINT) AS b,
             COUNT(*) AS c
      FROM documents GROUP BY 1, 2
    ),
    merged AS (SELECT b, CAST(SUM(c) AS BIGINT) AS c FROM h GROUP BY b),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM merged),
    cum AS (
      SELECT b, c, SUM(c) OVER (ORDER BY b) AS cc FROM merged
    ),
    qs AS (
      SELECT CAST(q AS BIGINT) AS q_pct FROM (VALUES (50), (90), (99)) v(q)
    ),
    est AS (
      SELECT q_pct,
             MIN((b + 1) * (b + 1) - 1) AS est_val
      FROM qs, cum, tot
      WHERE cum.cc * 100 >= tot.n * q_pct
      GROUP BY q_pct
    ),
    vals AS (
      SELECT n_chars AS v, COUNT(*) AS c FROM documents GROUP BY 1
    ),
    vcum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cc FROM vals),
    exact AS (
      SELECT q_pct, MIN(v) AS exact_val
      FROM qs, vcum, tot
      WHERE vcum.cc * 100 >= tot.n * q_pct
      GROUP BY q_pct
    )
    SELECT est.q_pct,
           CAST(exact.exact_val AS BIGINT) AS exact_val,
           CAST(est.est_val AS BIGINT) AS est_val,
           CAST(est.est_val - exact.exact_val AS BIGINT) AS err_abs
    FROM est JOIN exact ON exact.q_pct = est.q_pct
    """,
)
def q186(spark, sf_dir):
    """P50/P90/P99 of n_chars: exact vs sqrt-bucket-histogram
    estimate. The estimate is the bucket's upper value edge
    ((isqrt+1)^2 - 1) at the cumulative cut, so est >= exact always
    (err_abs >= 0 — pinned), and the RELATIVE value error of a sqrt
    bucket is ~2/sqrt(n_chars), shrinking for long documents.

    Spark shape: the summary build is ONE (source x ~sqrt(max))
    -sized hash agg with map-side partials — the shuffle carries
    histograms, never documents; the merge is a second agg of that
    domain-sized relation (addition = the mergeability the unit test
    pins); cumulative cuts and the 3-row quantile probe are windows
    over the merged histogram only. The exact audit reuses the same
    shape over the raw value domain. Integer-exact end to end: isqrt
    of int64 < 2^52 is correctly rounded (q131 rule), cc*100 and
    n*q_pct are exact int64 products (widen past ~10^17 rows — q77
    note)."""
    d = load(spark, sf_dir, "documents")
    h = d.groupBy(
        "source",
        F.expr("cast(floor(sqrt(n_chars)) as bigint)").alias("b"),
    ).agg(F.count("*").alias("c"))
    merged = h.groupBy("b").agg(F.sum("c").cast("bigint").alias("c"))
    tot = merged.agg(F.sum("c").cast("bigint").alias("n"))
    wcum = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = merged.withColumn("cc", F.sum("c").over(wcum))
    qs = spark.createDataFrame(
        [(50,), (90,), (99,)], schema="q_pct bigint"
    )
    est = (
        qs.crossJoin(F.broadcast(tot))
        .join(cum, F.expr("cc * 100 >= n * q_pct"))
        .groupBy("q_pct")
        .agg(F.min(F.expr("(b + 1) * (b + 1) - 1")).alias("est_val"))
    )
    vals = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.count("*").alias("c")
    )
    vcum = vals.withColumn(
        "cc",
        F.sum("c").over(
            Window.orderBy("v").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    exact = (
        qs.crossJoin(F.broadcast(tot))
        .join(vcum, F.expr("cc * 100 >= n * q_pct"))
        .groupBy("q_pct")
        .agg(F.min("v").alias("exact_val"))
    )
    return est.join(exact, "q_pct").select(
        "q_pct",
        F.col("exact_val").cast("bigint").alias("exact_val"),
        F.col("est_val").cast("bigint").alias("est_val"),
        (F.col("est_val") - F.col("exact_val"))
        .cast("bigint")
        .alias("err_abs"),
    )


# ---------------------------------------------------------------------------
# q187: per-label embedding drift between crawl halves — did the
# representation of a label's documents MOVE between the first and
# second half of ingest (vec_id order = ingest order)? Drift is the
# cosine between the two period centroids; since cosine is
# scale-invariant, the centroids never need dividing by n — the
# per-dimension EXACT decimal sums are the sufficient statistic, and
# the periods' cosine is computed from the two 64-vector sum rows.
# Sums are floor6-quantized at the engine boundary (identical on
# both sides), then dot/norms accumulate in exact decimal again, so
# the drift number is engine-stable without any float SUM ordering.


@query(
    "q187_label_drift",
    _EMB_DIMS_CTE
    + f"""
    , tot AS (SELECT COUNT(*) AS nv FROM embeddings WHERE len(embedding) > 0),
    pdims AS (
      SELECT e.label, CASE WHEN d.vec_id * 2 < tot.nv THEN 0 ELSE 1 END AS p,
             d.pos, d.v
      FROM dims d JOIN embeddings e ON e.vec_id = d.vec_id, tot
    ),
    sums AS (
      SELECT label, p, pos,
             CAST(floor(CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE)
                        * 1000000.0) AS BIGINT) AS s
      FROM pdims GROUP BY 1, 2, 3
    ),
    ns AS (
      SELECT label, p, COUNT(DISTINCT vec_id) AS n
      FROM (SELECT e.label,
                   CASE WHEN e.vec_id * 2 < tot.nv THEN 0 ELSE 1 END AS p,
                   e.vec_id
            FROM embeddings e, tot WHERE len(e.embedding) > 0) x
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.label,
             CAST(SUM(CAST(a.s AS DECIMAL(19,0)) * CAST(b.s AS DECIMAL(19,0)))
                  AS DOUBLE) AS dot,
             sqrt(CAST(SUM(CAST(a.s AS DECIMAL(19,0))
                           * CAST(a.s AS DECIMAL(19,0))) AS DOUBLE)) AS na,
             sqrt(CAST(SUM(CAST(b.s AS DECIMAL(19,0))
                           * CAST(b.s AS DECIMAL(19,0))) AS DOUBLE)) AS nb
      FROM sums a JOIN sums b ON b.label = a.label AND b.pos = a.pos
      WHERE a.p = 0 AND b.p = 1
      GROUP BY a.label
    )
    SELECT pairs.label,
           CAST(n0.n AS BIGINT) AS n_first,
           CAST(n1.n AS BIGINT) AS n_second,
           {_floor6_sql("dot / (na * nb)")} AS drift_cos
    FROM pairs
    JOIN ns n0 ON n0.label = pairs.label AND n0.p = 0
    JOIN ns n1 ON n1.label = pairs.label AND n1.p = 1
    """,
)
def q187(spark, sf_dir):
    """Cosine between each label's first-half and second-half
    centroid directions (1.0 = no drift). A label whose second-half
    documents embed elsewhere is the one whose upstream source or
    extraction changed mid-crawl — the representation-drift companion
    to q171/q174's distribution drift.

    Spark shape: ONE corpus-scale stage — the (label, period) hash
    aggregate with 64 exact-decimal SUM expressions (q105's wide-agg
    pattern: map-side partials collapse each task to
    labels x 2 rows; the oracle's dims explosion would shuffle 64x
    the vectors). The period key derives in-row from vec_id and the
    broadcast 1-row count. Everything after — the sum-vector cosine
    — runs on a labels x 2 x 64 relation: stack to long form (zero
    shuffle Expand), self-join periods, exact-decimal dot/norm folds.
    Engine parity: per-dim sums floor to e6-scaled BIGINT, dot/norms
    are exact DECIMAL(38,0) sums of integer products with ONE
    scale-0 decimal->double cast at the end — never a decimal(38,12)
    ->double cast past 2^53, where DuckDB double-rounds
    (hugeint->double then /10^s) and Spark rounds once (the q01
    convention at the top of this module; diverged at sf0.001)."""
    emb = _load_embeddings(spark, sf_dir)
    nv = emb.count()
    wide = emb.select(
        "label",
        F.expr(f"case when vec_id * 2 < {nv} then 0 else 1 end").alias(
            "p"
        ),
        "embedding",
    )
    dim_sums = [
        F.expr(
            f"cast(floor(cast(sum(cast(cast(try_element_at(embedding, {i})"
            f" as double) as decimal(28,12))) as double) * 1000000.0)"
            f" as bigint)"
        ).alias(f"s{i}")
        for i in range(1, 65)
    ]
    agg = wide.groupBy("label", "p").agg(
        F.count("*").cast("bigint").alias("n"), *dim_sums
    )
    stack = ", ".join(f"{i}, s{i}" for i in range(1, 65))
    long = agg.select(
        "label", "p", "n", F.expr(f"stack(64, {stack}) as (pos, s)")
    )
    a = long.filter("p = 0").select(
        "label",
        F.col("n").alias("n_first"),
        "pos",
        F.col("s").alias("sa"),
    )
    b = long.filter("p = 1").select(
        "label",
        F.col("n").alias("n_second"),
        "pos",
        F.col("s").alias("sb"),
    )
    j = a.join(b, ["label", "pos"])
    pairs = j.groupBy("label", "n_first", "n_second").agg(
        F.expr(
            "cast(sum(cast(sa as decimal(19,0)) * cast(sb as decimal(19,0)))"
            " as double)"
        ).alias("dot"),
        F.expr(
            "sqrt(cast(sum(cast(sa as decimal(19,0))"
            " * cast(sa as decimal(19,0))) as double))"
        ).alias("na"),
        F.expr(
            "sqrt(cast(sum(cast(sb as decimal(19,0))"
            " * cast(sb as decimal(19,0))) as double))"
        ).alias("nb"),
    )
    return pairs.select(
        "label",
        "n_first",
        "n_second",
        _floor6(F.col("dot") / (F.col("na") * F.col("nb"))).alias(
            "drift_cos"
        ),
    )


# ---------------------------------------------------------------------------
# q188: bot-burst detection — the traffic-hygiene filter a crawl/event
# pipeline runs before its data feeds anything downstream: a user
# whose event rate ever exceeds BOT_BURST_MAX events inside a rolling
# 60-second window is flagged as automated. The rolling count runs
# over per-SECOND buckets (events collapse to (user, second, n)
# first), so the window scans at most 60 bucket rows per row — never
# the raw event stream — and a RANGE frame over the epoch-second key
# handles gaps exactly.

BOT_BURST_MAX = 12


@query(
    "q188_bot_bursts",
    f"""
    WITH sec AS (
      SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS s,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    roll AS (
      SELECT user_id, s, n,
             SUM(n) OVER (PARTITION BY user_id ORDER BY s
                          RANGE BETWEEN 59 PRECEDING AND CURRENT ROW)
               AS w60
      FROM sec
    )
    SELECT user_id,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(MAX(w60) AS BIGINT) AS max_60s,
           MAX(w60) > {BOT_BURST_MAX} AS is_bot
    FROM roll GROUP BY user_id
    """,
)
def q188(spark, sf_dir):
    """Per-user peak 60-second event rate and the bot verdict.

    Spark shape: ONE corpus-scale hash agg (user x second, map-side
    partials) collapses the stream to bucket rows; the rolling count
    is a RANGE-frame window over the epoch-second LONG key on that
    REDUCED relation, partitioned by user (the q175 reduced-window
    rule — the window exchange is reused by the final user groupBy).
    A burst of B events in one second costs one bucket row, so the
    window never re-scans raw events; gaps are handled by the value
    range, not row offsets. At 10^12 events the only corpus-scale
    stage is the first aggregate."""
    ev = load(spark, sf_dir, "events")
    sec = ev.groupBy(
        "user_id",
        F.expr(
            "cast(unix_timestamp(date_trunc('second', ts)) as bigint)"
        ).alias("s"),
    ).agg(F.count("*").alias("n"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("s")
        .rangeBetween(-59, Window.currentRow)
    )
    roll = sec.withColumn("w60", F.sum("n").over(w))
    return roll.groupBy("user_id").agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.max("w60").cast("bigint").alias("max_60s"),
        (F.max("w60") > BOT_BURST_MAX).alias("is_bot"),
    )


# ---------------------------------------------------------------------------
# q189: quality-threshold sensitivity sweep — before changing the
# keep threshold (q39 uses 0.5) a pipeline wants the whole response
# curve: docs and token budget surviving at each candidate threshold,
# in ONE pass. The threshold grid fans out IN-ROW (q180's rule), the
# keep test runs on the e4-integer score (q177's exact axis), and
# the result is a |grid|-row table the operator reads as "what does
# tightening to 0.6 cost me".

QT_GRID_E4 = (4000, 4500, 5000, 5500, 6000, 6500, 7000)


@query(
    "q189_threshold_sweep",
    f"""
    WITH scored AS (
      SELECT {textstats.quality_score_e4_sql("text")} AS qe4,
             CASE WHEN {textstats.langid_sql("text")} = lang
                  THEN 1 ELSE 0 END AS lang_ok,
             {textstats.token_count_sql("text")} AS toks
      FROM documents
    ),
    fan AS (
      SELECT qe4, lang_ok, toks, g.t_e4
      FROM scored CROSS JOIN
        (VALUES {", ".join(f"({t})" for t in QT_GRID_E4)}) g(t_e4)
    )
    SELECT CAST(t_e4 AS BIGINT) AS t_e4,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN qe4 >= t_e4 AND lang_ok = 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           CAST(SUM(CASE WHEN qe4 >= t_e4 AND lang_ok = 1
                    THEN 1 ELSE 0 END)::HUGEINT * 1000000
                // COUNT(*) AS BIGINT) AS keep_ppm,
           CAST(SUM(CASE WHEN qe4 >= t_e4 AND lang_ok = 1
                    THEN toks ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM fan GROUP BY t_e4
    """,
)
def q189(spark, sf_dir):
    """Keep-rate and surviving token budget at each candidate quality
    threshold. Monotone non-increasing in the threshold by
    construction — the unit test pins that plus exact counts at a
    planted two-level fixture.

    Spark shape: one map-only codegen pass (e4 score + langid + token
    count twins), in-row explode of the {len(QT_GRID_E4)}-element
    threshold grid (never a join), ONE |grid|-row hash agg with
    map-side partials; the ppm numerator widens to
    decimal(38,0)/HUGEINT (q77 rule). At 10^12 docs: one scan, one
    grid-sized exchange — the whole sweep costs the same as a single
    threshold."""
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        textstats.quality_score_e4_col(F.col("text")).alias("qe4"),
        F.when(textstats.langid_col(F.col("text")) == F.col("lang"), 1)
        .otherwise(0)
        .alias("lang_ok"),
        textstats.token_count_col(F.col("text")).alias("toks"),
    )
    fan = scored.select(
        "qe4",
        "lang_ok",
        "toks",
        F.explode(
            F.array(*[F.lit(t).cast("bigint") for t in QT_GRID_E4])
        ).alias("t_e4"),
    )
    keep = "case when qe4 >= t_e4 and lang_ok = 1 then 1 else 0 end"
    return fan.groupBy("t_e4").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.expr(f"cast(sum({keep}) as bigint)").alias("n_keep"),
        F.expr(
            f"cast(cast(sum({keep}) as decimal(38,0)) * 1000000"
            " div count(*) as bigint)"
        ).alias("keep_ppm"),
        F.expr(
            "cast(sum(case when qe4 >= t_e4 and lang_ok = 1"
            " then toks else 0 end) as bigint)"
        ).alias("kept_tokens"),
    )


# ---------------------------------------------------------------------------
# q190: reciprocal nearest neighbors — pairs (a, b) that are each
# other's exact-cosine 1-NN within their k-means cell. Mutual-1NN is
# the high-precision tier of neighbor evidence (used for near-dup
# confirmation and bitext/phrase alignment): a hub attracts many
# 1-NN votes (q146 counts them) but reciprocates at most one, so RNN
# pairs survive hubness that poisons plain kNN. Same pair bounds as
# q135/q146 — cell equi-join, never all-pairs.


@query(
    "q190_reciprocal_nn",
    _EMB_DIMS_CTE
    + f"""
    , cents AS (SELECT vec_id AS cell, pos, v FROM dims
                WHERE vec_id < {IVF_N_CELLS}),
    dists AS (
      SELECT d.vec_id, c.cell,
             CAST(SUM(CAST((d.v - c.v) * (d.v - c.v) AS DECIMAL(28,12)))
                  AS DOUBLE) AS d2
      FROM dims d JOIN cents c ON c.pos = d.pos
      WHERE d.vec_id >= {IVF_N_CELLS}
      GROUP BY 1, 2
    ), assign AS (
      SELECT vec_id, cell
      FROM (SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2 ASC, cell ASC) AS rn
            FROM dists)
      WHERE rn = 1
    ), dots AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             CAST(SUM(CAST(da.v * db.v AS DECIMAL(28,12))) AS DOUBLE) AS dot
      FROM assign a JOIN assign b
           ON a.cell = b.cell AND a.vec_id <> b.vec_id
      JOIN dims da ON da.vec_id = a.vec_id
      JOIN dims db ON db.vec_id = b.vec_id AND db.pos = da.pos
      GROUP BY 1, 2
    ), nn AS (
      SELECT va, vb AS nn_id, cos6 FROM (
        SELECT va, vb,
               floor(dot / (na.nrm * nb.nrm) * 1000000.0) / 1000000.0
                 AS cos6,
               ROW_NUMBER() OVER (
                 PARTITION BY va
                 ORDER BY (floor(dot / (na.nrm * nb.nrm) * 1000000.0)
                           / 1000000.0) DESC, vb ASC) AS rn
        FROM dots JOIN norms na ON na.vec_id = va
                  JOIN norms nb ON nb.vec_id = vb)
      WHERE rn = 1
    )
    SELECT a.va AS vec_a, a.nn_id AS vec_b, a.cos6 AS cos_sim
    FROM nn a JOIN nn b ON b.va = a.nn_id AND b.nn_id = a.va
    WHERE a.va < a.nn_id
    """,
)
def q190(spark, sf_dir):
    """Mutual exact-cosine 1-NN pairs inside k-means cells.

    Spark shape: q146's nn relation built once (cell equi-join
    bounds the pair space; per-vector 1-NN window; exact-decimal
    cosine, floor6, vb tiebreak), materialized, then ONE
    self-equi-join on (va = nn_id, nn_id = va) — the reciprocity
    test costs a vector-count-sized hash join, not a second pair
    enumeration. va < vb canonicalizes each mutual pair to one row.
    Hubs self-limit: a vector appears in at most one RNN pair no
    matter how many 1-NN votes it attracts (q146's histogram shows
    the votes; this query shows which survive)."""
    e = _load_embeddings(spark, sf_dir)
    cent_rows = _collect_vec_rows(e, IVF_N_CELLS)
    dist_arr = _cent_dist_arr(cent_rows)
    corpus = e.filter(F.col("vec_id") >= IVF_N_CELLS)
    asg = corpus.select(
        "vec_id",
        F.element_at(dist_arr, 1).getField("cell").alias("cell"),
        "embedding",
        _nrm_dec(F.col("embedding")).alias("nrm"),
    )
    a = asg.select(
        F.col("vec_id").alias("va"),
        "cell",
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = asg.select(
        F.col("vec_id").alias("vb"),
        "cell",
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cos = _floor6(
        _dot_dec(F.col("emb_a"), F.col("emb_b"))
        / (F.col("nrm_a") * F.col("nrm_b"))
    )
    wnn = Window.partitionBy("va").orderBy(
        F.desc("cos_sim"), F.asc("vb")
    )
    nn = (
        a.join(b, "cell")
        .filter(F.col("va") != F.col("vb"))
        .select("va", "vb", cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(wnn))
        .filter(F.col("rn") == 1)
        .select("va", F.col("vb").alias("nn_id"), "cos_sim")
        .transform(materialize)
    )
    rev = nn.select(
        F.col("va").alias("r_va"), F.col("nn_id").alias("r_nn")
    )
    return (
        nn.join(
            rev,
            (F.col("r_va") == F.col("nn_id"))
            & (F.col("r_nn") == F.col("va")),
        )
        .filter(F.col("va") < F.col("nn_id"))
        .select(
            F.col("va").alias("vec_a"),
            F.col("nn_id").alias("vec_b"),
            "cos_sim",
        )
    )


# ---------------------------------------------------------------------------
# q191: duplicate user-journey fingerprints — two users OPENING with
# the identical ordered event-type sequence (first 5 events) is the behavioral signature
# of scripted traffic (an automation fleet replays one recipe), the
# sequence-level complement to q188's rate rule: a slow bot passes
# the rate cap but still replays the recipe verbatim. Each user's
# journey is canonicalized IN-ROW (sort the collected (ts, event_id,
# type) structs by the unique (ts, event_id) key, project the types,
# hash) so no window ever sorts the event stream globally.


@query(
    "q191_journey_fingerprints",
    """
    WITH j AS (
      SELECT user_id,
             md5(array_to_string(list_slice(
               list(event_type ORDER BY ts, event_id), 1, 5), '>')) AS jh,
             LEAST(COUNT(*), 5) AS opening_len
      FROM events GROUP BY user_id
    )
    SELECT jh, CAST(opening_len AS BIGINT) AS opening_len,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(MIN(user_id) AS BIGINT) AS example_user
    FROM j GROUP BY jh, opening_len
    HAVING COUNT(*) >= 2
    """,
)
def q191(spark, sf_dir):
    """Opening-recipe groups shared by >= 2 users: fingerprint of
    the first 5 ordered event types, user count, and the smallest
    user id as the inspection example. The 5-event prefix is the
    operative window: full journeys almost never collide (lengths
    differ), openings are where scripted login/landing recipes show.

    Spark shape: ONE user-keyed shuffle (collect_list partial agg)
    builds each user's event structs; ordering happens IN-ROW
    (array_sort on the unique (ts, event_id) prefix — the q00 rule:
    never a window sort over the corpus); the fingerprint groupBy
    then keys on a 32-byte hash with map-side partials. Identical
    (jh, opening_len) grouping on both engines; opening_len rides
    the group key because equal hashes imply equal prefix lengths. At 10^12 events: one linear shuffle on
    user_id, one domain-sized shuffle on the fingerprint."""
    ev = load(spark, sf_dir, "events")
    j = (
        ev.groupBy("user_id")
        .agg(
            F.expr(
                "md5(array_join(slice(transform(array_sort("
                "collect_list(struct(ts, event_id, event_type))),"
                " s -> s.event_type), 1, 5), '>'))"
            ).alias("jh"),
            F.least(F.count("*"), F.lit(5))
            .cast("bigint")
            .alias("opening_len"),
        )
    )
    return (
        j.groupBy("jh", "opening_len")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.min("user_id").cast("bigint").alias("example_user"),
        )
        .filter(F.col("n_users") >= 2)
    )


# ---------------------------------------------------------------------------
# q192: trending-phrase detection — which bigrams surged in the
# second half of the crawl relative to the first? The burst-mining
# companion to q50 (static hot phrases) and q179 (novelty): a phrase
# with high second-half lift marks an emerging topic, a new
# boilerplate template, or a spam campaign mid-corpus. Lift is the
# add-one-smoothed frequency ratio in exact ppm; a support floor
# keeps one-off phrases out of the ranking.

TREND_MIN_SUP = 5
TREND_TOP_K = 20


@query(
    "q192_trending_phrases",
    f"""
    WITH tot AS (SELECT COUNT(*) AS n FROM documents),
    tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok,
             generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1)
               AS pos
      FROM documents
    ),
    g AS (
      SELECT t.doc_id, t.tok || ' ' || lead(t.tok) OVER w AS gram
      FROM tok t WINDOW w AS (PARTITION BY t.doc_id ORDER BY t.pos)
    ),
    pg AS (
      SELECT CASE WHEN g.doc_id * 2 < tot.n THEN 0 ELSE 1 END AS p, gram
      FROM g, tot WHERE gram IS NOT NULL
    ),
    f AS (
      SELECT gram,
             CAST(SUM(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS f0,
             CAST(SUM(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1
      FROM pg GROUP BY gram
    )
    SELECT gram, f0, f1,
           CAST((f1 + 1)::HUGEINT * 1000000 // (f0 + 1) AS BIGINT)
             AS lift_ppm
    FROM f WHERE f1 >= {TREND_MIN_SUP}
    ORDER BY lift_ppm DESC, gram ASC LIMIT {TREND_TOP_K}
    """,
)
def q192(spark, sf_dir):
    """Top-{TREND_TOP_K} second-half-lifted bigrams (support >=
    {TREND_MIN_SUP} in the second half), add-one smoothing so brand
    -new phrases rank by raw second-half mass.

    Spark shape: bigrams form IN-ROW (zip_with the token array with
    its tail — q107's rule: the oracle's per-doc lead() window is a
    relational spelling, Spark never window-sorts the token stream);
    the period key derives from doc_id and the broadcast count; ONE
    (gram, period)-keyed hash agg with map-side partials produces
    the frequency table (conditional sums fold periods in the same
    agg), and the ranking is TakeOrderedAndProject over the
    gram-domain relation — never a global sort. At 10^12 docs the
    only corpus-scale stage is the gram aggregate."""
    d = load(spark, sf_dir, "documents")
    nv = d.count()
    grams = F.expr(
        "filter(zip_with(toks, concat(slice(toks, 2, size(toks)),"
        " array(cast(null as string))),"
        " (a, b) -> concat(a, ' ', b)), x -> x is not null)"
    )
    pg = (
        _dupspan_toks(d)
        .select(
            F.expr(f"case when doc_id * 2 < {nv} then 0 else 1 end").alias(
                "p"
            ),
            F.explode(grams).alias("gram"),
        )
    )
    f = pg.groupBy("gram").agg(
        F.expr("cast(sum(case when p = 0 then 1 else 0 end) as bigint)")
        .alias("f0"),
        F.expr("cast(sum(case when p = 1 then 1 else 0 end) as bigint)")
        .alias("f1"),
    )
    return (
        f.filter(F.col("f1") >= TREND_MIN_SUP)
        .select(
            "gram",
            "f0",
            "f1",
            F.expr(
                "cast(cast(f1 + 1 as decimal(38,0)) * 1000000"
                " div (f0 + 1) as bigint)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), F.asc("gram"))
        .limit(TREND_TOP_K)
    )


# ---------------------------------------------------------------------------
# q193: source-vocabulary overlap matrix — type-level Jaccard between
# every pair of sources' vocabularies. q75 measures DOCUMENT overlap
# (shared fingerprints); this measures LEXICAL overlap, which is what
# predicts whether a shared tokenizer / shared LM head will serve
# both sources. Vocabularies are per-source DISTINCT token sets built
# from in-row-distinct arrays (no DISTINCT shuffle), the pair
# intersection is ONE token-keyed equi-join of the (source, token)
# relation with itself, and sizes come from a sources-sized agg —
# all joins are on vocab-grain relations (Heaps-sublinear), never on
# the corpus.


@query(
    "q193_vocab_overlap",
    """
    WITH st AS (
      SELECT DISTINCT source,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS vs FROM st GROUP BY 1),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM st a JOIN st b ON b.tok = a.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, sa.vs AS vocab_a, sb.vs AS vocab_b, n_common,
           CAST(n_common::HUGEINT * 1000000
                // (sa.vs + sb.vs - n_common) AS BIGINT) AS jaccard_ppm
    FROM inter
    JOIN sizes sa ON sa.source = src_a
    JOIN sizes sb ON sb.source = src_b
    """,
)
def q193(spark, sf_dir):
    """Pairwise source-vocabulary Jaccard in exact ppm (canonical
    src_a < src_b rows).

    Spark shape: the ONLY corpus-scale stage builds per-doc DISTINCT
    token arrays in-row and aggregates (source, token) with map-side
    partials (the q107 in-row-distinct rule — explode feeds a
    COUNT-style agg, never a DISTINCT shuffle over raw tokens); the
    intersection self-join keys the vocab relation on the token, so
    a stop-word shared by all S sources fans out to S(S-1)/2 pair
    rows per TOKEN — bounded by the source-domain size, not by
    corpus frequency. Sizes join is domain-sized. The ppm numerator
    widens (q77 rule)."""
    d = load(spark, sf_dir, "documents")
    st = (
        d.select(
            "source",
            F.explode(
                F.array_distinct(F.split(F.trim("text"), r"\s+"))
            ).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.lit(1).alias("one"))
        .select("source", "tok")
        .transform(materialize)
    )
    sizes = st.groupBy("source").agg(
        F.count("*").cast("bigint").alias("vs")
    )
    a = st.select(F.col("source").alias("src_a"), "tok")
    b = st.select(F.col("source").alias("src_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    return (
        inter.join(
            sizes.select(
                F.col("source").alias("src_a"), F.col("vs").alias("vocab_a")
            ),
            "src_a",
        )
        .join(
            sizes.select(
                F.col("source").alias("src_b"), F.col("vs").alias("vocab_b")
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "vocab_a",
            "vocab_b",
            "n_common",
            F.expr(
                "cast(cast(n_common as decimal(38,0)) * 1000000"
                " div (vocab_a + vocab_b - n_common) as bigint)"
            ).alias("jaccard_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# q194: per-source OOV rate against the global top-K vocabulary —
# q116 sizes the tokenizer from corpus-wide coverage; this query
# asks the per-SOURCE question a mixing decision needs: if the
# tokenizer keeps only the top OOV_VOCAB_K global types, which
# source's token stream degrades most? OOV tokens fall back to
# byte/char pieces, inflating that source's effective sequence
# lengths (q95's fertility) and training cost.

OOV_VOCAB_K = 50


@query(
    "q194_source_oov",
    f"""
    WITH tok AS (
      SELECT source,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
      FROM documents
    ),
    freq AS (SELECT t, COUNT(*) AS n FROM tok GROUP BY t),
    vocab AS (
      SELECT t FROM freq ORDER BY n DESC, t ASC LIMIT {OOV_VOCAB_K}
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END)::HUGEINT
                * 1000000 // COUNT(*) AS BIGINT) AS oov_ppm
    FROM tok LEFT JOIN vocab v ON v.t = tok.t
    GROUP BY source
    """,
)
def q194(spark, sf_dir):
    """Per-source token count, OOV count, and OOV ppm under the
    global top-{OOV_VOCAB_K} type vocabulary (ties broken by token
    text, so the vocabulary is deterministic).

    Spark shape: ONE corpus token aggregate (map-side partials on
    the type domain) feeds a TakeOrdered top-K — never a global
    sort; the membership test BROADCASTS the K-row vocabulary back
    over the token stream as a left join (at 10^12 tokens the
    broadcast hash probe is map-side, so the only corpus-scale
    shuffle is the type aggregate + the final sources-sized agg).
    The ppm numerator widens (q77 rule)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(F.split(F.trim("text"), r"\s+")).alias("t")
    )
    vocab = (
        tok.groupBy("t")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("t"))
        .limit(OOV_VOCAB_K)
        .select(F.col("t").alias("vt"))
    )
    j = tok.join(
        F.broadcast(vocab), tok["t"] == F.col("vt"), "left"
    )
    oov = "sum(case when vt is null then 1 else 0 end)"
    return j.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.expr(f"cast({oov} as bigint)").alias("n_oov"),
        F.expr(
            f"cast(cast({oov} as decimal(38,0)) * 1000000"
            " div count(*) as bigint)"
        ).alias("oov_ppm"),
    )


# ---------------------------------------------------------------------------
# q195: interleaved-span structure profile — the shape statistics of
# the north-rule input itself (doc = array<struct<kind, text,
# media_ref, offset>>): per span-count cohort, the media share,
# kind-alternation rate, and how often documents OPEN with media.
# These drive extraction planning: alternation-heavy cohorts pay the
# per-span kernel-dispatch cost, media-opening docs gate thumbnail
# prefetch. Spans are constructed deterministically from doc_id (the
# q54/q40 fixture rule) and all statistics are computed by Spark as
# in-row higher-order-function folds over the REAL span arrays; the
# oracle re-derives the same numbers independently from the residue
# arithmetic — so the array machinery itself is what the hash gate
# verifies.


@query(
    "q195_interleave_profile",
    """
    WITH base AS (
      SELECT doc_id, 2 + doc_id % 5 AS k FROM documents
    ),
    sp AS (SELECT doc_id, k, unnest(range(k)) AS i FROM base),
    per AS (
      SELECT doc_id, k,
             SUM(CASE WHEN (doc_id + i) % 3 = 0 THEN 1 ELSE 0 END)
               AS n_media,
             SUM(CASE WHEN i < k - 1
                       AND (((doc_id + i) % 3 = 0)
                            <> ((doc_id + i + 1) % 3 = 0))
                      THEN 1 ELSE 0 END) AS tr
      FROM sp GROUP BY 1, 2
    )
    SELECT CAST(k AS BIGINT) AS n_spans,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_media)::HUGEINT * 1000000 // SUM(k) AS BIGINT)
             AS media_ppm,
           CAST(SUM(tr)::HUGEINT * 1000000 // SUM(k - 1) AS BIGINT)
             AS alternation_ppm,
           CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_media_first
    FROM per GROUP BY k
    """,
)
def q195(spark, sf_dir):
    """Per span-count cohort: document count, media-span share (ppm
    of spans), kind-alternation rate (ppm of adjacent pairs), and
    media-opening doc count. Fixture spans: k = 2 + doc_id % 5,
    span i is 'image' iff (doc_id + i) % 3 == 0, offsets i*10.

    Spark shape: the span ARRAY is built and analyzed entirely
    IN-ROW — transform to construct, filter/size for the media
    count, zip_with of the array against its own tail for
    transitions (the q00/q107 rule: adjacency never explodes, never
    windows) — then ONE cohort-sized (5-row) hash aggregate with
    map-side partials and widened ppm numerators (q77 rule). At
    10^12 docs: a single map pass over span arrays plus a 5-row
    exchange."""
    d = load(spark, sf_dir, "documents")
    spans = F.expr(
        "transform(sequence(0, 1 + doc_id % 5),"
        " i -> struct(case when (doc_id + i) % 3 = 0 then 'image'"
        " else 'text' end as kind, i * 10 as offset))"
    )
    per = d.select(
        "doc_id",
        spans.alias("spans"),
    ).select(
        "doc_id",
        F.expr("size(spans)").alias("k"),
        F.expr(
            "size(filter(spans, s -> s.kind = 'image'))"
        ).alias("n_media"),
        F.expr(
            "size(filter(zip_with(slice(spans, 2, size(spans) - 1),"
            " slice(spans, 1, size(spans) - 1),"
            " (a, b) -> a.kind != b.kind), x -> x))"
        ).alias("tr"),
        F.expr("element_at(spans, 1).kind = 'image'").alias("mf"),
    )
    return per.groupBy(F.col("k").cast("bigint").alias("n_spans")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.expr(
            "cast(cast(sum(n_media) as decimal(38,0)) * 1000000"
            " div sum(k) as bigint)"
        ).alias("media_ppm"),
        F.expr(
            "cast(cast(sum(tr) as decimal(38,0)) * 1000000"
            " div sum(k - 1) as bigint)"
        ).alias("alternation_ppm"),
        F.expr(
            "cast(sum(case when mf then 1 else 0 end) as bigint)"
        ).alias("n_media_first"),
    )


# ---------------------------------------------------------------------------
# q196 — multimodal curation: caption coverage (image–text pairing audit)
# ---------------------------------------------------------------------------

# An image span counts as "captioned" when an ADJACENT text span has at
# least CAPTION_MIN chars — the pairing rule an interleaved multimodal
# training run uses to decide whether an image contributes a usable
# (image, caption) example or rides along context-only. Scale rule: the
# whole audit is decided inside the span array (q195 discipline), so
# the corpus contributes one map pass + a sources-sized aggregate.
CAPTION_MIN = 20


@query(
    "q196_caption_coverage",
    f"""
    WITH base AS (
      SELECT doc_id, source, 2 + doc_id % 5 AS k FROM documents
    ),
    sp AS (SELECT doc_id, source, k, unnest(range(k)) AS i FROM base),
    t AS (
      SELECT doc_id, source, i,
             (doc_id + i) % 3 = 0 AS is_img,
             (doc_id * 7 + i * 13) % 40 AS tlen
      FROM sp
    ),
    n AS (
      SELECT doc_id, source, is_img,
             LAG(is_img) OVER w AS p_img, LAG(tlen) OVER w AS p_len,
             LEAD(is_img) OVER w AS f_img, LEAD(tlen) OVER w AS f_len
      FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ),
    img AS (
      SELECT doc_id, source,
             CASE WHEN (p_img = FALSE AND p_len >= {CAPTION_MIN})
                   OR (f_img = FALSE AND f_len >= {CAPTION_MIN})
                  THEN 1 ELSE 0 END AS cap
      FROM n WHERE is_img
    ),
    per_doc AS (
      SELECT doc_id, source, COUNT(*) AS n_img, SUM(cap) AS n_cap
      FROM img GROUP BY 1, 2
    )
    SELECT source,
           CAST(SUM(n_img) AS BIGINT) AS n_images,
           CAST(SUM(n_cap) AS BIGINT) AS n_captioned,
           CAST(SUM(n_cap)::HUGEINT * 1000000 // SUM(n_img) AS BIGINT)
             AS caption_ppm,
           CAST(COUNT(*) AS BIGINT) AS n_docs_media,
           CAST(SUM(CASE WHEN n_cap < n_img THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_orphan
    FROM per_doc GROUP BY source
    """,
)
def q196(spark, sf_dir):
    """Per source: how many image spans have a usable adjacent caption
    (text neighbor with >= CAPTION_MIN chars), caption coverage in ppm,
    and how many docs carry at least one orphan (caption-less) image.
    Fixture spans reuse q195's residue rules — k = 2 + doc_id % 5,
    span i is an image iff (doc_id + i) % 3 == 0 — plus a text-length
    rule tlen(i) = (doc_id*7 + i*13) % 40.

    Spark shape: the oracle's LAG/LEAD window is re-expressed IN-ROW —
    each position inspects its array neighbors via element_at, so no
    per-span explode and no doc-keyed window ever exists. One map pass
    over the corpus, then ONE sources-sized hash aggregate with
    map-side partials; docs without media drop out before the
    aggregate. At 10^12 docs the exchange carries |sources| rows."""
    d = load(spark, sf_dir, "documents")
    spans = F.expr(
        "transform(sequence(0, 1 + doc_id % 5), i -> struct("
        " (doc_id + i) % 3 = 0 as is_img,"
        " (doc_id * 7 + i * 13) % 40 as tlen))"
    )
    cap_cond = (
        "(j > 1 and not element_at(spans, j - 1).is_img"
        f" and element_at(spans, j - 1).tlen >= {CAPTION_MIN})"
        " or (j < size(spans) and not element_at(spans, j + 1).is_img"
        f" and element_at(spans, j + 1).tlen >= {CAPTION_MIN})"
    )
    per = d.select(
        "source", spans.alias("spans")
    ).select(
        "source",
        F.expr("size(filter(spans, s -> s.is_img))").alias("n_img"),
        F.expr(
            "size(filter(transform(sequence(1, size(spans)),"
            f" j -> element_at(spans, j).is_img and ({cap_cond})),"
            " x -> x))"
        ).alias("n_cap"),
    ).filter(F.col("n_img") > 0)
    return per.groupBy("source").agg(
        F.sum("n_img").cast("bigint").alias("n_images"),
        F.sum("n_cap").cast("bigint").alias("n_captioned"),
        F.expr(
            "cast(cast(sum(n_cap) as decimal(38,0)) * 1000000"
            " div sum(n_img) as bigint)"
        ).alias("caption_ppm"),
        F.count("*").cast("bigint").alias("n_docs_media"),
        F.expr(
            "cast(sum(case when n_cap < n_img then 1 else 0 end)"
            " as bigint)"
        ).alias("n_docs_orphan"),
    )


# ---------------------------------------------------------------------------
# q197 — streaming ops: watermark sizing audit (event-time lag profile)
# ---------------------------------------------------------------------------

# The number that sizes `withWatermark` in streaming/incremental.py:
# too small drops late events, too large holds state. Arrival delay is
# synthesized deterministically per event (uniform 0..119 s jitter plus
# a ~1% straggler cohort at +3600 s), then profiled per event type.
# Scale rule (q57 histogram discipline): the corpus contributes ONE
# (type, delay)-keyed aggregate — the delay domain is bounded, so the
# cumulative windows and the p99.9 pick run on the tiny histogram,
# never on raw events.
WM_LATE_S = 60          # the "late beyond watermark W" report line
WM_STRAGGLER_MOD = 97   # event_id % MOD == 0 -> +3600 s straggler


@query(
    "q197_watermark_audit",
    f"""
    WITH e AS (
      SELECT event_type,
             (event_id * 37) % 120
             + CASE WHEN event_id % {WM_STRAGGLER_MOD} = 0
                    THEN 3600 ELSE 0 END AS delay
      FROM events
    ),
    h AS (
      SELECT event_type, delay, COUNT(*) AS c FROM e GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, delay, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY delay)
               AS cum,
             SUM(c) OVER (PARTITION BY event_type) AS tot
      FROM h
    )
    SELECT event_type,
           CAST(MAX(tot) AS BIGINT) AS n_events,
           CAST(MAX(delay) AS BIGINT) AS max_delay_s,
           CAST(SUM(CASE WHEN delay > {WM_LATE_S} THEN c ELSE 0 END)
                ::HUGEINT * 1000000 // MAX(tot) AS BIGINT)
             AS late{WM_LATE_S}_ppm,
           CAST(MIN(CASE WHEN cum * 1000 >= tot * 999 THEN delay END)
                AS BIGINT) AS wm_p999_s
    FROM cum GROUP BY event_type
    """,
)
def q197(spark, sf_dir):
    """Per event type: arrival-delay profile for watermark sizing —
    event count, max observed delay, share arriving later than
    WM_LATE_S (ppm), and the smallest watermark that retains 99.9% of
    events (exact integer rank rule cum*1000 >= tot*999, no float
    percentile).

    Spark shape: one map pass derives the deterministic delay, ONE
    (event_type, delay) hash aggregate collapses the corpus onto the
    bounded delay domain (<= 121 distinct values per type), and every
    window — cumulative CDF and total — runs on that histogram. At
    10^12 events the only corpus-scale exchange carries histogram
    cells, exactly like q57/q88."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "(event_id * 37) % 120 + case when event_id % "
            f"{WM_STRAGGLER_MOD} = 0 then 3600 else 0 end"
        ).alias("delay"),
    )
    h = e.groupBy("event_type", "delay").agg(F.count("*").alias("c"))
    w_cdf = (
        Window.partitionBy("event_type")
        .orderBy("delay")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    cum = h.select(
        "event_type", "delay", "c",
        F.sum("c").over(w_cdf).alias("cum"),
        F.sum("c").over(w_all).alias("tot"),
    )
    return cum.groupBy("event_type").agg(
        F.max("tot").cast("bigint").alias("n_events"),
        F.max("delay").cast("bigint").alias("max_delay_s"),
        F.expr(
            "cast(cast(sum(case when delay > "
            f"{WM_LATE_S} then c else 0 end) as decimal(38,0))"
            " * 1000000 div max(tot) as bigint)"
        ).alias(f"late{WM_LATE_S}_ppm"),
        F.min(
            F.when(
                F.col("cum") * 1000 >= F.col("tot") * 999, F.col("delay")
            )
        ).cast("bigint").alias("wm_p999_s"),
    )


# ---------------------------------------------------------------------------
# q198 — scale planning: join-explosion preflight (hot-key forecast)
# ---------------------------------------------------------------------------


@query(
    "q198_join_preflight",
    """
    WITH k AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS ca,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS cb
      FROM events GROUP BY 1
    ),
    j AS (
      SELECT user_id, ca, cb, ca * cb AS pairs
      FROM k WHERE ca > 0 AND cb > 0
    ),
    tot AS (SELECT SUM(pairs) AS tp FROM j)
    SELECT user_id,
           CAST(ca AS BIGINT) AS n_left,
           CAST(cb AS BIGINT) AS n_right,
           CAST(pairs AS BIGINT) AS n_pairs,
           CAST(pairs::HUGEINT * 1000000 // tp AS BIGINT) AS share_ppm
    FROM j, tot
    ORDER BY n_pairs DESC, user_id LIMIT 10
    """,
)
def q198(spark, sf_dir):
    """Forecast the clicks x purchases per-user join BEFORE running
    it: per-key output cardinality ca*cb, and each key's share of the
    total join output in exact ppm — the preflight that decides
    broadcast vs shuffle vs salt-the-hot-keys for a planned join
    (AQE's skew stats, surfaced as a queryable relation).

    Spark shape: ONE scan of events with conditional map-side partial
    counts (never two filtered scans), giving a user-sized relation;
    the grand total joins back as a broadcast single row, and top-10
    is a TakeOrdered heap with the user_id tiebreak — the corpus is
    touched once, the candidate join itself never executes. At 10^12
    events this costs one user-keyed exchange, identical to what the
    real join's shuffle would need just to start."""
    e = load(spark, sf_dir, "events")
    k = e.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("ca"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("cb"),
    )
    j = k.filter((F.col("ca") > 0) & (F.col("cb") > 0)).withColumn(
        "pairs", F.col("ca") * F.col("cb")
    )
    tot = j.agg(F.sum("pairs").alias("tp"))
    return (
        j.join(F.broadcast(tot))
        .select(
            "user_id",
            F.col("ca").cast("bigint").alias("n_left"),
            F.col("cb").cast("bigint").alias("n_right"),
            F.col("pairs").cast("bigint").alias("n_pairs"),
            F.expr(
                "cast(cast(pairs as decimal(38,0)) * 1000000"
                " div tp as bigint)"
            ).alias("share_ppm"),
        )
        .orderBy(F.desc("n_pairs"), "user_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q199 — data layout: rendezvous-hash shard rebalance audit
# ---------------------------------------------------------------------------

# Highest-random-weight (rendezvous) placement: doc -> argmax over
# shards of md5(doc_id ':' shard). Its contract — removing one shard
# moves ONLY that shard's documents, everyone else stays put — is what
# makes incremental re-sharding of a 100 TB corpus a 1/N rewrite
# instead of a full shuffle. The audit computes before/after
# assignments for the loss of shard RDV_DOWN and proves the
# minimal-movement invariant as data.
RDV_SHARDS = 8
RDV_DOWN = 5


@query(
    "q199_rendezvous_rebalance",
    f"""
    WITH s AS (SELECT unnest(range({RDV_SHARDS})) AS shard),
    h AS (
      SELECT d.doc_id, s.shard,
             ('0x' || substr(md5(d.doc_id || ':' || s.shard), 1, 12))
               ::BIGINT * {RDV_SHARDS} + s.shard AS score
      FROM documents d, s
    ),
    bef AS (SELECT doc_id, arg_max(shard, score) AS b FROM h GROUP BY 1),
    aft AS (
      SELECT doc_id, arg_max(shard, score) AS a
      FROM h WHERE shard <> {RDV_DOWN} GROUP BY 1
    ),
    m AS (
      SELECT bef.doc_id, b, a FROM bef JOIN aft ON bef.doc_id = aft.doc_id
    )
    SELECT CAST(s.shard AS BIGINT) AS shard,
           CAST(SUM(CASE WHEN m.b = s.shard THEN 1 ELSE 0 END) AS BIGINT)
             AS n_before,
           CAST(SUM(CASE WHEN m.a = s.shard AND s.shard <> {RDV_DOWN}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
           CAST(SUM(CASE WHEN m.b = {RDV_DOWN} AND m.a = s.shard
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_in
    FROM s, m GROUP BY s.shard
    """,
)
def q199(spark, sf_dir):
    """Per shard: document count under rendezvous placement over all
    RDV_SHARDS shards, the count after shard RDV_DOWN is removed, and
    how many documents moved IN during the rebalance. Minimal-movement
    invariant (asserted in tests): n_after = n_before + n_moved_in for
    every surviving shard — no doc whose shard survived ever moves.

    Spark shape: both assignments are decided IN-ROW — the 8-entry
    (score, shard) array is built with transform and reduced with
    array_max (struct ordering = score-major with the shard tiebreak,
    same integer scale-and-add as the oracle) — so the corpus never
    explodes to doc x shard rows and never shuffles on doc_id. One
    map pass collapses to a <= shards^2-row (before, after) grid; the
    per-shard report is computed entirely on that grid against a
    range(RDV_SHARDS) dimension. At 10^12 docs the only corpus-scale
    exchange carries 64 rows."""
    d = load(spark, sf_dir, "documents")
    arr = (
        f"transform(sequence(0, {RDV_SHARDS - 1}), s -> struct("
        " cast(conv(substring(md5(concat(cast(doc_id as string), ':',"
        f" cast(s as string))), 1, 12), 16, 10) as bigint) * {RDV_SHARDS}"
        " + s as score, s as shard))"
    )
    asg = d.select(
        F.expr(f"array_max({arr}).shard").alias("b"),
        F.expr(
            f"array_max(filter({arr}, x -> x.shard != {RDV_DOWN})).shard"
        ).alias("a"),
    )
    grid = asg.groupBy("b", "a").agg(F.count("*").alias("c"))
    shards = spark.range(RDV_SHARDS).select(
        F.col("id").cast("int").alias("shard")
    )
    return shards.crossJoin(F.broadcast(grid)).groupBy(
        F.col("shard").cast("bigint").alias("shard")
    ).agg(
        F.expr(
            "cast(sum(case when b = shard then c else 0 end) as bigint)"
        ).alias("n_before"),
        F.expr(
            f"cast(sum(case when a = shard and shard != {RDV_DOWN}"
            " then c else 0 end) as bigint)"
        ).alias("n_after"),
        F.expr(
            f"cast(sum(case when b = {RDV_DOWN} and a = shard"
            " then c else 0 end) as bigint)"
        ).alias("n_moved_in"),
    )


# ---------------------------------------------------------------------------
# q200 — QC: within-document code-switching (half-split langid drift)
# ---------------------------------------------------------------------------


def _q200_oracle() -> str:
    ll, rl = textstats.langid_sql("lhs"), textstats.langid_sql("rhs")
    return f"""
    WITH h AS (
      SELECT lang, source,
             substr(text, 1, CAST(length(text) // 2 AS INT)) AS lhs,
             substr(text, CAST(length(text) // 2 AS INT) + 1) AS rhs
      FROM documents
    ),
    c AS (SELECT lang, source, {ll} AS ll, {rl} AS rl FROM h)
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN ll <> 'unknown' AND rl <> 'unknown'
                          AND ll <> rl THEN 1 ELSE 0 END) AS BIGINT)
             AS n_switched,
           CAST(SUM(CASE WHEN ll <> 'unknown' AND rl <> 'unknown'
                          AND ll <> rl THEN 1 ELSE 0 END)
                ::HUGEINT * 1000000 // COUNT(*) AS BIGINT)
             AS switched_ppm,
           CAST(SUM(CASE WHEN ll = 'unknown' OR rl = 'unknown'
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_half_unknown
    FROM c GROUP BY 1, 2
    """


@query("q200_code_switching", _q200_oracle())
def q200(spark, sf_dir):
    """Documents whose two halves disagree on language id — the
    code-switching / mislabel detector a single whole-doc langid pass
    (q16) cannot see: a 50/50 German-English doc scores confidently
    as ONE language overall, but its halves each score confidently
    and differently. Per (declared lang, source): doc count, switched
    count + ppm, and how many docs lose langid resolution at
    half-length (either half 'unknown').

    Spark shape: pure map pass — substring split at the char midpoint
    + two langid_col applications (JVM regexp counters, whole-stage
    codegen, zero Python) — then ONE (lang, source)-sized hash
    aggregate with map-side partials. At 10^12 docs: one scan, one
    dimension-sized exchange, exactly q16's cost despite scoring each
    doc twice."""
    d = load(spark, sf_dir, "documents")
    half = d.select(
        "lang", "source",
        F.expr("substring(text, 1, cast(length(text) div 2 as int))")
            .alias("lhs"),
        F.expr("substring(text, cast(length(text) div 2 as int) + 1)")
            .alias("rhs"),
    )
    c = half.select(
        "lang", "source",
        textstats.langid_col(F.col("lhs")).alias("ll"),
        textstats.langid_col(F.col("rhs")).alias("rl"),
    )
    switched = (
        (F.col("ll") != "unknown")
        & (F.col("rl") != "unknown")
        & (F.col("ll") != F.col("rl"))
    )
    return c.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(switched, 1).otherwise(0)).cast("bigint")
            .alias("n_switched"),
        F.expr(
            "cast(cast(sum(case when ll != 'unknown' and rl != 'unknown'"
            " and ll != rl then 1 else 0 end) as decimal(38,0))"
            " * 1000000 div count(*) as bigint)"
        ).alias("switched_ppm"),
        F.sum(
            F.when(
                (F.col("ll") == "unknown") | (F.col("rl") == "unknown"), 1
            ).otherwise(0)
        ).cast("bigint").alias("n_half_unknown"),
    )


# ---------------------------------------------------------------------------
# q201 — decontamination: NEAR-duplicate eval leaks (SimHash hamming)
# ---------------------------------------------------------------------------

# q46 catches verbatim 8-gram overlap; a lightly paraphrased benchmark
# answer (a few words swapped) shares no 8-gram but lands within a few
# SimHash bits. Candidates come from the q29 band layout — a train doc
# only meets the eval docs sharing one of its SH_N_BANDS 12-bit band
# keys — and the eval side is broadcast (a benchmark suite stays ~10^5
# docs no matter the corpus size), so the corpus never shuffles.
SH_HAM_MAX = 8


@query(
    "q201_near_decontaminate",
    _SH_TOK
    + f"""
    , sig AS (SELECT doc_id, {_simhash_sql_expr()} AS simhash
              FROM th GROUP BY doc_id),
    {_sh_bands_sql()},
    lab AS (
      SELECT doc_id, simhash, band, key,
             substr(md5('eval:' || doc_id), 1, 2)
               < '{CONTAM_EVAL_THRESHOLD}' AS is_eval
      FROM bands
    ),
    cand AS (
      SELECT DISTINCT t.doc_id, e.doc_id AS eval_doc,
             t.simhash AS s1, e.simhash AS s2
      FROM lab t JOIN lab e ON t.band = e.band AND t.key = e.key
      WHERE NOT t.is_eval AND e.is_eval
    ),
    ham AS (
      SELECT doc_id, eval_doc, bit_count(xor(s1, s2)) AS hd FROM cand
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_eval_near,
           CAST(MIN(hd) AS BIGINT) AS min_hamming
    FROM ham WHERE hd <= {SH_HAM_MAX} GROUP BY doc_id
    """,
)
def q201(spark, sf_dir):
    """Fuzzy benchmark decontamination: training docs within
    SH_HAM_MAX SimHash bits of any eval-set doc (eval membership =
    q46's salted-hash rule). Catches the paraphrased leak q46's
    verbatim n-grams cannot; recall is the LSH banding trade — a pair
    must agree on at least one band, the documented q29 property the
    oracle mirrors exactly.

    Spark shape: signatures are in-row map-only (q28), the band fan-
    out is 4 rows/doc, and the eval band table is BROADCAST — the
    corpus-side probe is map-only, the hamming verify runs on
    candidate pairs only, and the one real shuffle is the final
    groupBy over contaminated docs (linear in true contamination). At
    10^12 docs nothing corpus-sized ever exchanges."""
    bands = _sh_bands_df(spark, sf_dir).withColumn(
        "is_eval",
        F.substring(
            F.md5(F.concat(F.lit("eval:"), F.col("doc_id"))), 1, 2
        ) < CONTAM_EVAL_THRESHOLD,
    )
    t = bands.filter(~F.col("is_eval")).select(
        "doc_id", "simhash", "band", "key"
    )
    e = bands.filter(F.col("is_eval")).select(
        F.col("doc_id").alias("eval_doc"),
        F.col("simhash").alias("s2"),
        "band",
        "key",
    )
    cand = (
        t.join(F.broadcast(e), ["band", "key"])
        .select("doc_id", "eval_doc", "simhash", "s2")
        .distinct()
    )
    ham = cand.select(
        "doc_id",
        "eval_doc",
        F.bit_count(F.col("simhash").bitwiseXOR(F.col("s2"))).alias("hd"),
    ).filter(F.col("hd") <= SH_HAM_MAX)
    return ham.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_eval_near"),
        F.min("hd").cast("bigint").alias("min_hamming"),
    )


# ---------------------------------------------------------------------------
# q202 — dedup QC: transitive-chaining audit over q42's clusters
# ---------------------------------------------------------------------------


@query(
    "q202_cluster_chaining",
    _SH_TOK.replace("WITH ", "WITH RECURSIVE ", 1)
    + _SH_CC_CTES
    + """
    , comp AS (SELECT src AS doc_id, MIN(dst) AS component
               FROM reach GROUP BY src),
    m AS (
      SELECT c.component,
             bit_count(CAST(xor(s1.simhash, s2.simhash) AS BIGINT)) AS hd
      FROM comp c
      JOIN sig s1 ON s1.doc_id = c.doc_id
      JOIN sig s2 ON s2.doc_id = c.component
      WHERE c.doc_id <> c.component
    )
    SELECT component,
           CAST(COUNT(*) + 1 AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN hd > 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_chained,
           CAST(MAX(hd) AS BIGINT) AS max_ham_to_keeper
    FROM m GROUP BY component
    """,
)
def q202(spark, sf_dir):
    """The known failure mode of connected-component dedup, measured:
    similarity is not transitive, so a q42 cluster built from
    pairwise hamming <= 3 edges (q29's threshold) can contain members
    A-B-C chains where C sits arbitrarily far from the keeper A. Per
    cluster: member count, how many members exceed the pairwise
    threshold against their OWN keeper (chained members — documents
    the cluster decision drops without any direct evidence), and the
    worst member-to-keeper distance. A pipeline alarms when
    n_chained grows: it means template families are bridging
    unrelated documents.

    Spark shape: everything is candidate-bounded — the component
    table (only near-dup docs, q42) broadcasts onto the in-row
    signature map to pick member and keeper signatures without
    shuffling the corpus; the hamming verify and the per-cluster
    aggregate run on cluster-sized relations. Corpus cost = the q28
    signature map pass it already shares with the whole simhash
    family."""
    comp = q42(spark, sf_dir)
    sig = _simhash_df(spark, sf_dir)
    m = comp.filter("doc_id <> component")
    msig = sig.join(F.broadcast(m), "doc_id").select("component", "simhash")
    keepers = m.select(F.col("component").alias("doc_id")).distinct()
    ksig = sig.join(F.broadcast(keepers), "doc_id").select(
        F.col("doc_id").alias("component"), F.col("simhash").alias("ks")
    )
    j = msig.join(F.broadcast(ksig), "component").select(
        "component",
        F.bit_count(F.col("simhash").bitwiseXOR(F.col("ks"))).alias("hd"),
    )
    return j.groupBy("component").agg(
        (F.count("*") + 1).cast("bigint").alias("n_members"),
        F.sum(F.when(F.col("hd") > 3, 1).otherwise(0)).cast("bigint")
            .alias("n_chained"),
        F.max("hd").cast("bigint").alias("max_ham_to_keeper"),
    )


# ---------------------------------------------------------------------------
# q203 — robust statistics: MAD outlier flags (median absolute deviation)
# ---------------------------------------------------------------------------


@query(
    "q203_mad_outliers",
    """
    WITH h AS (
      SELECT lang, n_chars AS v, COUNT(*) AS c FROM documents GROUP BY 1, 2
    ),
    t AS (SELECT lang, SUM(c) AS n FROM h GROUP BY 1),
    cum AS (
      SELECT lang, v, c,
             SUM(c) OVER (PARTITION BY lang ORDER BY v) AS cm
      FROM h
    ),
    med AS (
      SELECT cum.lang, MIN(v) AS med
      FROM cum JOIN t ON t.lang = cum.lang
      WHERE cm * 2 >= n GROUP BY 1
    ),
    dev AS (
      SELECT h.lang, abs(h.v - med.med) AS dv, SUM(c) AS dc
      FROM h JOIN med ON med.lang = h.lang GROUP BY 1, 2
    ),
    dcum AS (
      SELECT lang, dv, dc,
             SUM(dc) OVER (PARTITION BY lang ORDER BY dv) AS cm
      FROM dev
    ),
    mad AS (
      SELECT dcum.lang, MIN(dv) AS mad
      FROM dcum JOIN t ON t.lang = dcum.lang
      WHERE cm * 2 >= n GROUP BY 1
    )
    SELECT h.lang,
           CAST(MAX(t.n) AS BIGINT) AS n_docs,
           CAST(MAX(med.med) AS BIGINT) AS median_chars,
           CAST(MAX(mad.mad) AS BIGINT) AS mad_chars,
           CAST(SUM(CASE WHEN abs(h.v - med.med) > 3 * mad.mad
                         THEN h.c ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(SUM(CASE WHEN abs(h.v - med.med) > 3 * mad.mad
                         THEN h.c ELSE 0 END)::HUGEINT * 1000000
                // MAX(t.n) AS BIGINT) AS outlier_ppm
    FROM h
    JOIN med ON med.lang = h.lang
    JOIN mad ON mad.lang = h.lang
    JOIN t ON t.lang = h.lang
    GROUP BY h.lang
    """,
)
def q203(spark, sf_dir):
    """Per language: robust length outliers via the median absolute
    deviation — median and MAD are immune to the very outliers a
    mean/stddev rule (or q81's winsorizing percentiles) gets dragged
    by. Lower-median rule 2*cum >= n on both engines, all-integer.

    Spark shape: the corpus is touched by exactly ONE (lang, n_chars)
    histogram aggregate (q57/q81 discipline); both medians — of the
    values, then of the absolute deviations FROM that median — and
    the 3-MAD outlier count are chained windows/joins over the
    histogram itself, because abs(v - med) with weight c is a
    relabeling of histogram cells, not a second scan. At 10^12 docs:
    one histogram-cell exchange, everything after runs on thousands
    of rows."""
    d = load(spark, sf_dir, "documents")
    # The histogram is referenced by three downstream relations (CDF,
    # deviations, outlier count); materialize it ONCE so the plan
    # cannot re-scan the corpus per reference (the q132/q161 lesson —
    # materialize turns 3 corpus aggregates back into 1).
    h = (
        d.groupBy("lang", F.col("n_chars").alias("v"))
        .agg(F.count("*").alias("c"))
        .transform(materialize)
    )
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("lang")
    cum = h.select(
        "lang", "v", "c",
        F.sum("c").over(w_cum).alias("cm"),
        F.sum("c").over(w_all).alias("n"),
    )
    med = (
        cum.filter(F.col("cm") * 2 >= F.col("n"))
        .groupBy("lang")
        .agg(F.min("v").alias("med"), F.max("n").alias("n"))
    )
    hm = h.join(F.broadcast(med), "lang").withColumn(
        "dv", F.abs(F.col("v") - F.col("med"))
    )
    dev = hm.groupBy("lang", "dv").agg(F.sum("c").alias("dc"))
    w_dcum = (
        Window.partitionBy("lang")
        .orderBy("dv")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dcum = dev.join(F.broadcast(med.select("lang", "n")), "lang").select(
        "lang", "dv", F.sum("dc").over(w_dcum).alias("cm"), "n"
    )
    mad = (
        dcum.filter(F.col("cm") * 2 >= F.col("n"))
        .groupBy("lang")
        .agg(F.min("dv").alias("mad"))
    )
    full = hm.join(F.broadcast(mad), "lang")
    return full.groupBy("lang").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        F.max("med").cast("bigint").alias("median_chars"),
        F.max("mad").cast("bigint").alias("mad_chars"),
        F.expr(
            "cast(sum(case when dv > 3 * mad then c else 0 end)"
            " as bigint)"
        ).alias("n_outliers"),
        F.expr(
            "cast(cast(sum(case when dv > 3 * mad then c else 0 end)"
            " as decimal(38,0)) * 1000000 div max(n) as bigint)"
        ).alias("outlier_ppm"),
    )


# ---------------------------------------------------------------------------
# q204 — ingest QC: referential-integrity (foreign-key orphan) audit
# ---------------------------------------------------------------------------

# (child table, fk column, parent table, pk column) — the star
# schema's FK edges, audited in one report. Shared by the Spark plan
# and the generated oracle so the relationship list cannot drift.
FK_EDGES = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def _q204_oracle() -> str:
    arms = "\n    UNION ALL\n    ".join(
        f"""SELECT '{c}.{fk}->{p}.{pk}' AS relationship,
           CAST((SELECT COUNT(*) FROM {c}) AS BIGINT) AS n_child,
           CAST((SELECT COUNT(*) FROM {c}
                 WHERE {fk} NOT IN (SELECT {pk} FROM {p})) AS BIGINT)
             AS n_orphans"""
        for c, fk, p, pk in FK_EDGES
    )
    return arms


@query("q204_fk_orphans", _q204_oracle())
def q204(spark, sf_dir):
    """Referential-integrity audit of the whole star schema in one
    report: for every FK edge, the child row count and how many child
    rows reference a missing parent — the first query run after any
    bulk ingest, and the invariant incremental pipelines (plans/
    upsert, streaming ingest) must keep at zero.

    Spark shape: each edge is a LEFT ANTI join counted (null-safe:
    NOT IN semantics would silently go empty on null FKs, anti join
    counts them as orphans — the fixture has no null FKs so both
    agree). Dimension parents (region/nation/customer/part/supplier)
    broadcast; only lineitem->orders joins two large relations, and
    that shuffle is on the join key the tables would be bucketed by
    in production (test_bucketed_join shows that layout making it
    exchange-free). The 7 per-edge counts union into one 7-row
    report; each count is a map-side-partial COUNT(*), so at 10^12
    rows the report costs one pass per child table."""
    out = None
    for c, fk, p, pk in FK_EDGES:
        child = load(spark, sf_dir, c)
        parent = load(spark, sf_dir, p).select(pk).distinct()
        if p != "orders":
            parent = F.broadcast(parent)
        orphans = child.join(
            parent, child[fk] == parent[pk], "left_anti"
        ).agg(F.count("*").cast("bigint").alias("n_orphans"))
        total = child.agg(F.count("*").cast("bigint").alias("n_child"))
        row = total.crossJoin(orphans).select(
            F.lit(f"{c}.{fk}->{p}.{pk}").alias("relationship"),
            "n_child",
            "n_orphans",
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# q205 — embedding ingest QC: vector integrity audit
# ---------------------------------------------------------------------------

EMB_DIM = 64  # the corpus contract; q134/q136/q187 all assume it


@query(
    "q205_embedding_integrity",
    f"""
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN embedding IS NULL OR len(embedding) = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
           CAST(SUM(CASE WHEN embedding IS NOT NULL
                          AND len(embedding) > 0
                          AND len(embedding) <> {EMB_DIM}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_dim,
           CAST(SUM(CASE WHEN len(list_filter(embedding,
                              x -> x IS NULL OR isnan(x))) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_vals,
           CAST(SUM(CASE WHEN embedding IS NOT NULL
                          AND len(embedding) > 0
                          AND len(list_filter(embedding,
                              x -> x IS NULL OR isnan(x))) = 0
                          AND len(list_filter(embedding,
                                              x -> NOT (x = 0))) = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm
    FROM embeddings GROUP BY label
    """,
)
def q205(spark, sf_dir):
    """Per label: the four ways an embedding column goes bad on
    ingest — missing/empty vectors, wrong dimensionality (the silent
    killer of every fold over `sequence(1, 64)`), bad element values,
    and all-zero vectors (an un-normalized encoder failure that
    poisons cosine math with 0/0). This is q104's column-profiling
    discipline applied to the vector column; the audit
    q134/q136/q187 implicitly assume has already run.

    "Bad value" is NULL-or-NaN *per element*: a NaN written through
    the pandas->Arrow->parquet path arrives as a NULL list element
    (verified in the planted test), so an isnan()-only probe reports
    a clean corpus while every fold over the vector silently
    nulls out — the audit checks both spellings. Zero-norm excludes
    bad-value vectors so each failure lands in exactly one counter.

    Spark shape: pure map pass — every predicate is an in-row
    size(filter(...)) over the array, no explode — and ONE
    label-sized hash aggregate with map-side partials. At 10^12
    vectors: one scan, one 20-row exchange."""
    e = load(spark, sf_dir, "embeddings")
    empty = F.expr("embedding is null or size(embedding) = 0")
    return e.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum(F.when(empty, 1).otherwise(0)).cast("bigint")
            .alias("n_empty"),
        F.sum(
            F.when(
                F.expr(
                    "embedding is not null and size(embedding) > 0"
                    f" and size(embedding) != {EMB_DIM}"
                ), 1,
            ).otherwise(0)
        ).cast("bigint").alias("n_bad_dim"),
        F.sum(
            F.when(
                F.expr(
                    "size(filter(embedding,"
                    " x -> x is null or isnan(x))) > 0"
                ), 1,
            ).otherwise(0)
        ).cast("bigint").alias("n_bad_vals"),
        F.sum(
            F.when(
                F.expr(
                    "embedding is not null and size(embedding) > 0"
                    " and size(filter(embedding,"
                    " x -> x is null or isnan(x))) = 0"
                    " and size(filter(embedding, x -> not (x = 0))) = 0"
                ), 1,
            ).otherwise(0)
        ).cast("bigint").alias("n_zero_norm"),
    )


# ---------------------------------------------------------------------------
# q206 — extraction: German postal address normalization
# ---------------------------------------------------------------------------

_ADDR_STREETS = (
    "Hauptstraße", "Bahnhofstr.", "Gartenweg", "Schillerplatz",
    "Am Ring", "Berliner Allee", "Kirchgasse", "Mozartweg",
)
_ADDR_CITIES = (
    "Berlin", "Hamburg", "München", "Köln", "Dresden",
    "Frankfurt am Main",
)


def _addr_case(vals, mod: int) -> str:
    arms = " ".join(
        f"WHEN doc_id % {mod} = {i} THEN '{v}'" for i, v in enumerate(vals)
    )
    return f"(CASE {arms} END)"


def _addr_text(s: str) -> str:
    """Deterministic German address line (q54/q91 fixture pattern);
    docs with doc_id % 11 = 0 lose their PLZ+city — the malformed
    cohort the validity flag must catch. PLZ keeps its leading zero
    (lpad to 5) — the classic bug of parsing PLZ as an integer."""
    street = _addr_case(_ADDR_STREETS, 8)
    city = _addr_case(_ADDR_CITIES, 6)
    house = (
        f"cast(1 + doc_id % 120 as {s})"
        " || (CASE WHEN doc_id % 7 = 0 THEN 'a' ELSE '' END)"
    )
    plz = f"lpad(cast(1000 + (doc_id * 37) % 99000 as {s}), 5, '0')"
    tail = (
        f"CASE WHEN doc_id % 11 = 0 THEN 'PLZ fehlt' "
        f"ELSE {plz} || ' ' || {city} END"
    )
    return (
        f"'Anschrift: ' || {street} || ' ' || {house} || ', ' || {tail}"
        " || ' Deutschland'"
    )


# RE2 ∩ Java ∩ Python (pii.py dialect): lazy street match stops at the
# house number; the city class excludes digits so it anchors between
# the PLZ and the ' Deutschland' suffix.
_ADDR_STREET_PAT = "Anschrift: (.+?) ([0-9]+[a-z]?),"
_ADDR_PLZ_PAT = ", ([0-9]{5}) "
_ADDR_CITY_PAT = "[0-9]{5} ([A-Za-zäöüÄÖÜß. -]+) Deutschland"


@query(
    "q206_address_extract",
    f"""
    WITH a AS (
      SELECT doc_id, {_addr_text('varchar')} AS txt FROM documents
    )
    SELECT doc_id,
           regexp_extract(txt, '{_ADDR_STREET_PAT}', 1) AS street,
           regexp_extract(txt, '{_ADDR_STREET_PAT}', 2) AS house_no,
           regexp_extract(txt, '{_ADDR_PLZ_PAT}', 1) AS plz,
           regexp_extract(txt, '{_ADDR_CITY_PAT}', 1) AS city,
           CAST(CASE WHEN regexp_extract(txt, '{_ADDR_PLZ_PAT}', 1)
                          <> '' THEN 1 ELSE 0 END AS BIGINT) AS plz_ok
    FROM a
    """,
)
def q206(spark, sf_dir):
    """German postal address extraction and normalization: street,
    house number (with the 12a-style letter suffix), PLZ and city
    pulled from an address line — the recipient/sender field
    extraction of the reference's InvoiceData (extractor.py:26-27:
    `sender: Dict`, `recipient: Dict`) as a relational operator. PLZ
    stays a STRING: ~6% of German postal codes start with 0 (Dresden
    01xxx cohort included in the fixture rule) and the int cast that
    drops the zero is the classic address-pipeline bug; the validity
    flag marks docs where no 5-digit PLZ was found (planted malformed
    cohort doc_id % 11 = 0). Multi-word cities (Frankfurt am Main)
    exercise the anchored city pattern.

    Spark shape: map-only WholeStageCodegen — fixture construction
    and four regexp_extracts in one pass, zero shuffles, zero
    Python (q91's discipline)."""
    d = load(spark, sf_dir, "documents")
    a = d.select("doc_id", F.expr(_addr_text("string")).alias("txt"))
    plz = F.regexp_extract("txt", _ADDR_PLZ_PAT, 1)
    return a.select(
        "doc_id",
        F.regexp_extract("txt", _ADDR_STREET_PAT, 1).alias("street"),
        F.regexp_extract("txt", _ADDR_STREET_PAT, 2).alias("house_no"),
        plz.alias("plz"),
        F.regexp_extract("txt", _ADDR_CITY_PAT, 1).alias("city"),
        F.when(plz != "", 1).otherwise(0).cast("bigint").alias("plz_ok"),
    )


# ---------------------------------------------------------------------------
# q207 — retrieval QC: rank-biased overlap (RBO) of two rankings
# ---------------------------------------------------------------------------

# Truncated RBO at depth D with persistence p = 9/10 (Webber et al.
# 2010), in EXACT integer arithmetic: RBO = (1-p) Σ_d p^(d-1)·ov_d/d
# = Σ_d ov_d · 9^(d-1) · 10^(D-d) · (2520/d) / (2520·10^D). A doc
# with ranks (ra, rb) joins every prefix overlap from depth
# max(ra, rb) on, so Σ_d ov_d·w_d = Σ_docs SUFFIX(max(ra, rb)) — the
# whole metric is ONE conditional sum over the rank pairs, no
# per-depth pass. Tables generated here so Spark/SQL cannot drift.
RBO_DEPTH = 10
_RBO_LCM = 2520
_RBO_W = [
    9 ** (d - 1) * 10 ** (RBO_DEPTH - d) * (_RBO_LCM // d)
    for d in range(1, RBO_DEPTH + 1)
]
_RBO_SUFFIX = [sum(_RBO_W[m - 1:]) for m in range(1, RBO_DEPTH + 1)]
_RBO_DEN = _RBO_LCM * 10 ** RBO_DEPTH


def _rbo_case(mexpr: str) -> str:
    arms = " ".join(
        f"WHEN {mexpr} = {m} THEN {_RBO_SUFFIX[m - 1]}"
        for m in range(1, RBO_DEPTH + 1)
    )
    return f"(CASE {arms} ELSE 0 END)"


@query(
    "q207_rbo_rankings",
    _BM25_SCORED_SQL
    + f"""
    , cand AS (SELECT doc_id, score_ppm FROM sc WHERE score_ppm > 0),
    r1 AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score_ppm DESC, doc_id ASC)
               AS ra
      FROM cand
    ), qual AS (
      SELECT d.doc_id,
             CAST(({_QC_WSUM_SQL} * 1000) // len(toks) AS BIGINT)
               AS quality_e3
      FROM (SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents) d
      JOIN cand c ON c.doc_id = d.doc_id
    ), r2 AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY quality_e3 DESC, doc_id ASC)
               AS rb
      FROM qual
    ), m AS (
      SELECT greatest(ra, rb) AS mx
      FROM r1 JOIN r2 ON r2.doc_id = r1.doc_id
    )
    SELECT CAST({RBO_DEPTH} AS BIGINT) AS depth,
           CAST(SUM(CASE WHEN mx <= {RBO_DEPTH} THEN 1 ELSE 0 END)
                AS BIGINT) AS overlap_at_depth,
           CAST(SUM(CAST({_rbo_case('mx')} AS DECIMAL(38,0)))
                * 1000000 // {_RBO_DEN} AS BIGINT) AS rbo_e6
    FROM m
    """,
)
def q207(spark, sf_dir):
    """How much do the lexical (BM25) and quality rankings agree at
    the top? Rank-biased overlap at depth RBO_DEPTH, p=0.9 — the
    top-weighted agreement metric (a rank-1 swap moves RBO far more
    than a rank-9 swap, which is what you want when only the head of
    a retrieval ranking is ever shown or trained on). This is the
    TRUNCATED form: identical rankings score 1 - p^D = 0.651321, the
    depth-10 ceiling (the RBO_ext extrapolation term would add the
    unseen-tail residual). Complements q150 (Spearman over whole
    distributions) and q137 (fusion of the same two rankings); exact
    integer arithmetic throughout — see the derivation above.

    Spark shape: both rankings come from q137's candidate-bounded
    machinery (corpus-scale work = q122's map passes); the metric
    itself is greatest(ra, rb) mapped through a broadcast-inlined
    suffix-weight CASE and ONE single-row aggregate. Nothing beyond
    the candidate relation ever shuffles."""
    d = load(spark, sf_dir, "documents")
    cand = (
        _bm25_scored(d)
        .filter(F.col("score_ppm") > 0)
        .select("doc_id", "score_ppm")
    )
    w1 = Window.orderBy(F.desc("score_ppm"), F.asc("doc_id"))
    r1 = cand.select("doc_id", F.row_number().over(w1).alias("ra"))
    qual = (
        d.join(F.broadcast(cand.select("doc_id")), "doc_id")
        .select("doc_id", F.split(F.trim("text"), r"\s+").alias("toks"))
        .select(
            "doc_id",
            F.expr(f"({_QC_WSUM_SPARK} * 1000) div size(toks)")
            .cast("bigint")
            .alias("quality_e3"),
        )
    )
    w2 = Window.orderBy(F.desc("quality_e3"), F.asc("doc_id"))
    r2 = qual.select("doc_id", F.row_number().over(w2).alias("rb"))
    m = r1.join(r2, "doc_id").select(
        F.greatest("ra", "rb").alias("mx")
    )
    return m.agg(
        F.lit(RBO_DEPTH).cast("bigint").alias("depth"),
        F.sum(
            F.when(F.col("mx") <= RBO_DEPTH, 1).otherwise(0)
        ).cast("bigint").alias("overlap_at_depth"),
        F.expr(
            f"cast(sum(cast({_rbo_case('mx')} as decimal(38,0)))"
            f" * 1000000 div {_RBO_DEN} as bigint)"
        ).alias("rbo_e6"),
    )


# ---------------------------------------------------------------------------
# q208 — QC: exact OLS regression (length -> quality) per source
# ---------------------------------------------------------------------------


@query(
    "q208_ols_length_quality",
    f"""
    WITH p AS (
      SELECT source, n_chars AS x,
             {textstats.quality_score_e4_sql("text")} AS y
      FROM documents
    ),
    s AS (
      SELECT source,
             COUNT(*) AS n,
             SUM(CAST(x AS DECIMAL(38,0))) AS sx,
             SUM(CAST(y AS DECIMAL(38,0))) AS sy,
             SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
             SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
             SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
      FROM p GROUP BY source
    ),
    c AS (
      SELECT source, n,
             n * sxy - sx * sy AS cxy,
             n * sxx - sx * sx AS cxx,
             n * syy - sy * sy AS cyy
      FROM s
    )
    SELECT source,
           CAST(n AS BIGINT) AS n_docs,
           CAST(CASE WHEN cxx = 0 THEN 0
                     ELSE (cxy::HUGEINT * 1000000000) // cxx::HUGEINT
                END AS BIGINT) AS slope_e9,
           CAST(CASE WHEN cxx = 0 OR cyy = 0 THEN 0
                     ELSE (cxy::HUGEINT * cxy::HUGEINT * 1000000)
                          // (cxx::HUGEINT * cyy::HUGEINT)
                END AS BIGINT) AS r2_e6
    FROM c
    """,
)
def q208(spark, sf_dir):
    """Does document quality drift with length inside each source?
    Exact least-squares slope of quality_e4 on n_chars plus r², from
    integer sufficient statistics — the parametric companion to
    q150's Spearman (which only sees monotonicity, not magnitude). A
    source whose slope_e9 is strongly negative produces long
    documents that score worse — the signature of boilerplate
    padding — and r2_e6 says whether that trend explains anything.

    Engine parity: the five sufficient sums are exact DECIMAL(38,0);
    slope and r² are scaled integer divisions that truncate toward
    zero identically on both engines (Spark decimal `div` ==
    DuckDB HUGEINT `//`, verified for negative numerators — slopes
    go negative, unlike every earlier ppm ratio). Scale note: the
    cross-moment products stay under 10^38 through ~10^9 docs/source;
    beyond that, center x first (q134's moments give the means) so
    the raw magnitudes drop by the mean² term.

    Spark shape: ONE map pass (quality is in-row codegen) + ONE
    sources-sized hash aggregate with map-side partials; the slope
    algebra runs on the sources relation. At 10^12 docs: one scan,
    one |sources|-row exchange."""
    d = load(spark, sf_dir, "documents")
    p = d.select(
        "source",
        F.col("n_chars").alias("x"),
        textstats.quality_score_e4_col(F.col("text")).alias("y"),
    )
    s = p.groupBy("source").agg(
        F.count("*").alias("n"),
        F.expr("sum(cast(x as decimal(38,0)))").alias("sx"),
        F.expr("sum(cast(y as decimal(38,0)))").alias("sy"),
        F.expr("sum(cast(x as decimal(38,0)) * y)").alias("sxy"),
        F.expr("sum(cast(x as decimal(38,0)) * x)").alias("sxx"),
        F.expr("sum(cast(y as decimal(38,0)) * y)").alias("syy"),
    )
    c = s.select(
        "source",
        "n",
        F.expr("n * sxy - sx * sy").alias("cxy"),
        F.expr("n * sxx - sx * sx").alias("cxx"),
        F.expr("n * syy - sy * sy").alias("cyy"),
    )
    return c.select(
        "source",
        F.col("n").cast("bigint").alias("n_docs"),
        F.expr(
            "cast(case when cxx = 0 then 0"
            " else (cxy * 1000000000) div cxx end as bigint)"
        ).alias("slope_e9"),
        F.expr(
            "cast(case when cxx = 0 or cyy = 0 then 0"
            " else (cxy * cxy * 1000000) div (cxx * cyy) end as bigint)"
        ).alias("r2_e6"),
    )


# ---------------------------------------------------------------------------
# q209 — dedup policy: quality-aware keeper selection
# ---------------------------------------------------------------------------


@query(
    "q209_quality_keeper",
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, '  ' || text || '  ' AS text
      FROM documents WHERE doc_id % 7 = 0
    ),
    q AS (
      SELECT doc_id, {textstats.fingerprint_sql('text')} AS fp,
             {textstats.quality_score_e4_sql('text')} AS qe4
      FROM corpus
    ),
    g AS (
      SELECT fp, COUNT(*) AS n_dups,
             MAX(qe4 * 1000000000000 + (999999999999 - doc_id))
               AS bestkey,
             MIN(doc_id * 100000 + qe4) AS minkey
      FROM q GROUP BY fp HAVING COUNT(*) > 1
    )
    SELECT fp,
           CAST(n_dups AS BIGINT) AS n_dups,
           CAST(999999999999 - bestkey % 1000000000000 AS BIGINT)
             AS keeper_doc,
           CAST(bestkey // 1000000000000 AS BIGINT) AS keeper_qe4,
           CAST(minkey // 100000 AS BIGINT) AS minid_doc,
           CAST(bestkey // 1000000000000 - minkey % 100000 AS BIGINT)
             AS gain_e4
    FROM g
    """,
)
def q209(spark, sf_dir):
    """q43 keeps the MINIMUM doc_id of each exact-dup group; this is
    the better policy — keep the highest-QUALITY member (ties to the
    smallest id) — with the per-group quality gain over min-id
    quantified. Duplicates share a CANONICAL fingerprint (lower +
    whitespace-collapse) but differ in raw text, so their quality
    scores genuinely differ; gain_e4 is how much score the corpus
    keeps by choosing well.

    Both the argmax and the min-id lookup ride ONE aggregate via
    packed-integer keys — keeper = MAX(qe4·10^12 + (10^12-1 -
    doc_id)) decodes to (quality, tie-smallest-id) and minkey =
    MIN(doc_id·10^5 + qe4) carries the min-id's own score — so no
    second join back to the corpus and no window over the group
    (q165's padded-key discipline; fits int64 through the 10^12-doc
    id space).

    The live fixture is all-singletons, so q101's padded re-crawl
    cohort is planted (doc_id % 7 re-enters under a new id with
    whitespace padding): padding changes length and therefore the
    quality score but not the canonical fingerprint, giving the
    policy real signal — the padded copy scores HIGHER on the naive
    length-loving quality formula, which is exactly the kind of
    inversion this report exists to surface.

    Spark shape: one map pass (fingerprint + in-row quality), one
    16-byte-key hash aggregate with map-side partials. Identical
    cost to q17/q43 discovery despite the richer policy."""
    d = load(spark, sf_dir, "documents")
    corpus = d.select("doc_id", "text").unionByName(
        d.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.lit("  "), F.col("text"), F.lit("  "))
                .alias("text"),
        )
    )
    q = corpus.select(
        "doc_id",
        textstats.fingerprint_col(F.col("text")).alias("fp"),
        textstats.quality_score_e4_col(F.col("text")).alias("qe4"),
    )
    g = (
        q.groupBy("fp")
        .agg(
            F.count("*").alias("n_dups"),
            F.max(
                F.expr("qe4 * 1000000000000 + (999999999999 - doc_id)")
            ).alias("bestkey"),
            F.min(F.expr("doc_id * 100000 + qe4")).alias("minkey"),
        )
        .filter(F.col("n_dups") > 1)
    )
    return g.select(
        "fp",
        F.col("n_dups").cast("bigint").alias("n_dups"),
        F.expr("cast(999999999999 - bestkey % 1000000000000 as bigint)")
            .alias("keeper_doc"),
        F.expr("cast(bestkey div 1000000000000 as bigint)")
            .alias("keeper_qe4"),
        F.expr("cast(minkey div 100000 as bigint)").alias("minid_doc"),
        F.expr(
            "cast(bestkey div 1000000000000 - minkey % 100000 as bigint)"
        ).alias("gain_e4"),
    )


# ---------------------------------------------------------------------------
# q210 — interleaved media: hot media_ref reuse audit
# ---------------------------------------------------------------------------

MEDIA_POOL = 40  # fixture: image spans draw refs from a shared pool


@query(
    "q210_media_reuse",
    f"""
    WITH img AS (
      SELECT doc_id,
             'media/' || (doc_id * 31 + i * 17) % {MEDIA_POOL} || '.png'
               AS media_ref
      FROM (SELECT doc_id, 2 + doc_id % 5 AS k FROM documents) b,
           LATERAL unnest(range(b.k)) AS u(i)
      WHERE (doc_id + i) % 3 = 0
    ),
    per AS (
      SELECT media_ref, COUNT(*) AS n_docs FROM img GROUP BY 1
    ),
    tot AS (SELECT SUM(n_docs) AS t FROM per)
    SELECT media_ref, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_docs::HUGEINT * 1000000 // t AS BIGINT) AS share_ppm
    FROM per, tot
    ORDER BY n_docs DESC, media_ref ASC LIMIT 20
    """,
)
def q210(spark, sf_dir):
    """The hottest shared media references across the interleaved
    corpus: an image reused by thousands of documents (site logos,
    stock photos, tracking pixels) is exactly what a multimodal
    pipeline wants to decode ONCE and cache — and what a training
    mix wants to down-weight before the same logo dominates the
    image distribution. Fixture spans reuse q195's residue rules;
    image refs draw from a shared MEDIA_POOL so reuse is real.
    Top-20 refs with doc counts and share of all image spans.

    Spark shape: refs are constructed and filtered IN-ROW (the span
    array never explodes to text spans — only image refs fan out,
    ~1/3 of spans), then ONE ref-keyed hash aggregate with map-side
    partials; the grand total joins back as a broadcast single row
    and top-20 is a TakeOrdered heap. At 10^12 docs the ref
    histogram is pool-sized, the exchange tiny."""
    d = load(spark, sf_dir, "documents")
    refs = F.expr(
        "transform(filter(sequence(0, 1 + doc_id % 5),"
        " i -> (doc_id + i) % 3 = 0),"
        f" i -> concat('media/', (doc_id * 31 + i * 17) % {MEDIA_POOL},"
        " '.png'))"
    )
    img = d.select(F.explode(refs).alias("media_ref"))
    per = img.groupBy("media_ref").agg(F.count("*").alias("n_docs"))
    tot = per.agg(F.sum("n_docs").alias("t"))
    return (
        per.join(F.broadcast(tot))
        .select(
            "media_ref",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.expr(
                "cast(cast(n_docs as decimal(38,0)) * 1000000 div t"
                " as bigint)"
            ).alias("share_ppm"),
        )
        .orderBy(F.desc("n_docs"), F.asc("media_ref"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q211 — multimodal curation: interleaved sequence packing (image cost)
# ---------------------------------------------------------------------------

# A vision-language context window spends a FIXED patch budget per
# image (ViT-style: one image = IMG_TOKEN_COST tokens regardless of
# text around it), so the packing axis is text-tokens + images*cost —
# q74's layout generalized to the interleaved payload.
IMG_TOKEN_COST = 64


@query(
    "q211_multimodal_packing",
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS nt,
             CAST(len(list_filter(range(2 + doc_id % 5),
                                  i -> (doc_id + i) % 3 = 0)) AS BIGINT)
               AS n_media,
             ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 4))
               ::BIGINT % {PACK_LANES} AS lane
      FROM documents
    ), c AS (
      SELECT doc_id, lane, nt, n_media,
             nt + n_media * {IMG_TOKEN_COST} AS cost,
             COALESCE(SUM(nt + n_media * {IMG_TOKEN_COST})
                      OVER (PARTITION BY lane ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM t
    )
    SELECT doc_id, lane, nt, n_media,
           CAST(cost AS BIGINT) AS cost,
           CAST(cum_before // {PACK_CAP} AS BIGINT) AS seq_id,
           CAST(cum_before % {PACK_CAP} AS BIGINT) AS seq_offset,
           CAST(n_media * {IMG_TOKEN_COST} * 1000000 // cost AS BIGINT)
             AS media_cost_ppm
    FROM c
    """,
)
def q211(spark, sf_dir):
    """q74's training-sequence packing generalized to interleaved
    image+text documents: every image span consumes a fixed
    IMG_TOKEN_COST-patch budget (ViT semantics), so a doc's packing
    cost is text tokens + images x {IMG_TOKEN_COST}. Image counts
    derive from the q195 span residue rules; media_cost_ppm reports
    how much of each doc's window budget the images eat — the dial a
    multimodal mix uses to bound image-heavy batches.

    Spark shape: identical to q74 — one map-only pass (token count,
    in-row image count, salted lane), then ONE lane-partitioned
    window; no global order, no driver loop, lanes pack
    independently (the 1000-writer property). cost > 0 always: every
    doc has at least the nt >= 1 of its empty-split token."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("cast(size(split(trim(text), '\\\\s+')) as bigint)")
            .alias("nt"),
        F.expr(
            "cast(size(filter(sequence(0, 1 + doc_id % 5),"
            " i -> (doc_id + i) % 3 = 0)) as bigint)"
        ).alias("n_media"),
        F.expr(
            f"cast(conv(substring(md5(concat('pack:', cast(doc_id as"
            f" string))), 1, 4), 16, 10) as bigint) % {PACK_LANES}"
        ).alias("lane"),
    )
    cost = F.expr(f"nt + n_media * {IMG_TOKEN_COST}")
    w = (
        Window.partitionBy("lane")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = d.withColumn("cost", cost).withColumn(
        "cum_before", F.coalesce(F.sum("cost").over(w), F.lit(0))
    )
    return c.select(
        "doc_id", "lane", "nt", "n_media",
        F.col("cost").cast("bigint").alias("cost"),
        F.expr(f"cast(cum_before div {PACK_CAP} as bigint)").alias("seq_id"),
        F.expr(f"cast(cum_before % {PACK_CAP} as bigint)")
            .alias("seq_offset"),
        F.expr(
            f"cast(n_media * {IMG_TOKEN_COST} * 1000000 div cost"
            " as bigint)"
        ).alias("media_cost_ppm"),
    )


# ---------------------------------------------------------------------------
# q212 — LM eval: held-out bigram perplexity backtest (fit/predict)
# ---------------------------------------------------------------------------


@query(
    "q212_lm_backtest",
    """
    WITH train AS (
      SELECT text FROM documents
      WHERE doc_id % 2 = 0 AND length(text) >= 2
    ),
    tpos AS (
      SELECT text, unnest(range(1, length(text))) AS i FROM train
    ),
    cnt AS (
      SELECT substring(text, CAST(i AS INT), 2) AS bigram, COUNT(*) AS n
      FROM tpos GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM cnt),
    model AS (
      SELECT bigram,
             CAST(length(bin(greatest(t // n, 1))) - 1 AS BIGINT) AS bits
      FROM cnt, tot
    ),
    oov AS (SELECT CAST(length(bin(t)) AS BIGINT) AS bits FROM tot),
    ev AS (
      SELECT doc_id, lang, text FROM documents
      WHERE doc_id % 2 = 1 AND length(text) >= 2
    ),
    epos AS (
      SELECT lang, text, unnest(range(1, length(text))) AS i FROM ev
    ),
    ebg AS (
      SELECT lang, substring(text, CAST(i AS INT), 2) AS bigram,
             COUNT(*) AS c
      FROM epos GROUP BY 1, 2
    ),
    scored AS (
      SELECT lang, c, model.bits AS mbits, oov.bits AS obits
      FROM ebg LEFT JOIN model ON model.bigram = ebg.bigram, oov
    )
    SELECT lang,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM ev e
             WHERE e.lang = scored.lang) AS n_eval_docs,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN mbits IS NULL THEN c ELSE 0 END)
                ::HUGEINT * 1000000 // SUM(c) AS BIGINT) AS oov_ppm,
           CAST(SUM(c * COALESCE(mbits, obits))::HUGEINT * 1000
                // SUM(c) AS BIGINT) AS bits_per_bigram_e3
    FROM scored GROUP BY lang
    """,
)
def q212(spark, sf_dir):
    """The LM-eval loop closed: fit the q129 char-bigram cost table on
    the even-doc half, score the ODD half per language — held-out
    bits-per-bigram plus out-of-vocabulary mass. A language whose
    held-out cost runs far above the others is one the train half
    under-represents (the q144 fit/predict discipline applied to the
    q92/q129 text-LM family); OOV bigrams pay the worst-case
    length(bin(t)) bits, so the metric is total, not truncated.

    Spark shape: both halves collapse to (bigram)- and (lang,
    bigram)-keyed aggregates whose key domains are the alphabet
    squared — the shuffles carry |Σ|²-bounded partials regardless of
    corpus size (q129's property). The learned model joins the eval
    relation by BROADCAST (it is |Σ|²-sized by construction), the
    OOV fallback rides a broadcast single row, and the per-lang
    report aggregates the domain-sized scored relation. Eval doc
    counts come from a separate langs-sized aggregate, joined — not
    a correlated subquery — on the tiny report."""
    d = load(spark, sf_dir, "documents").filter(F.length("text") >= 2)
    train = d.filter(F.col("doc_id") % 2 == 0)
    cnt = (
        train.select(
            "text",
            F.expr("explode(sequence(1, length(text) - 1))").alias("i"),
        )
        .select(F.expr("substring(text, i, 2)").alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
    )
    tot = cnt.agg(F.sum("n").cast("bigint").alias("t"))
    model = cnt.join(F.broadcast(tot)).select(
        "bigram",
        (F.length(F.expr("bin(greatest(t div n, 1))")) - 1)
        .cast("bigint")
        .alias("mbits"),
    )
    oov = tot.select(
        F.length(F.expr("bin(t)")).cast("bigint").alias("obits")
    )
    ev = d.filter(F.col("doc_id") % 2 == 1)
    ndocs = ev.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_eval_docs")
    )
    ebg = (
        ev.select(
            "lang",
            "text",
            F.expr("explode(sequence(1, length(text) - 1))").alias("i"),
        )
        .select("lang", F.expr("substring(text, i, 2)").alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count("*").alias("c"))
    )
    scored = ebg.join(F.broadcast(model), "bigram", "left").join(
        F.broadcast(oov)
    )
    rep = scored.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.expr(
            "cast(cast(sum(case when mbits is null then c else 0 end)"
            " as decimal(38,0)) * 1000000 div sum(c) as bigint)"
        ).alias("oov_ppm"),
        F.expr(
            "cast(cast(sum(c * coalesce(mbits, obits)) as decimal(38,0))"
            " * 1000 div sum(c) as bigint)"
        ).alias("bits_per_bigram_e3"),
    )
    return rep.join(F.broadcast(ndocs), "lang").select(
        "lang", "n_eval_docs", "n_bigrams", "oov_ppm",
        "bits_per_bigram_e3",
    )


# ---------------------------------------------------------------------------
# q213 — product analytics: funnel latency percentiles (view->purchase)
# ---------------------------------------------------------------------------


@query(
    "q213_funnel_latency",
    """
    WITH ev AS (
      SELECT user_id, event_type, ts FROM events
      WHERE event_type IN ('view', 'purchase')
    ),
    paired AS (
      SELECT user_id, event_type, ts,
             MAX(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_view
      FROM (SELECT user_id, event_type, ts, event_id FROM events
            WHERE event_type IN ('view', 'purchase'))
    ),
    lat AS (
      SELECT CAST(date_diff('second', prev_view, ts) AS BIGINT) // 60
               AS mins
      FROM paired
      WHERE event_type = 'purchase' AND prev_view IS NOT NULL
    ),
    h AS (SELECT mins, COUNT(*) AS c FROM lat GROUP BY 1),
    cum AS (
      SELECT mins, c, SUM(c) OVER (ORDER BY mins) AS cm,
             SUM(c) OVER () AS n
      FROM h
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_conversions,
           CAST(MIN(CASE WHEN cm * 2 >= n THEN mins END) AS BIGINT)
             AS p50_mins,
           CAST(MIN(CASE WHEN cm * 10 >= n * 9 THEN mins END) AS BIGINT)
             AS p90_mins,
           CAST(MAX(mins) AS BIGINT) AS max_mins
    FROM cum
    """,
)
def q213(spark, sf_dir):
    """How long does view -> purchase take? Each purchase pairs with
    the user's LATEST PRECEDING view (the q48 as-of semantic expressed
    as a running MAX over the user's event stream — no as-of join
    needed because both sides live in one table), then conversion
    latency collapses onto a minute-bucket histogram and the p50/p90
    come from exact integer rank rules (q57/q197 discipline). Ties in
    ts break by event_id so the pairing is total-ordered.

    Spark shape: ONE user-keyed window shuffle does all the pairing;
    latencies then collapse to a bounded minute histogram (second
    corpus-scale agg carries histogram cells), and the percentile
    windows run on cells. At 10^12 events: two exchanges, both
    map-side-combining."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    paired = e.withColumn(
        "prev_view",
        F.max(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).over(w),
    )
    lat = paired.filter(
        (F.col("event_type") == "purchase")
        & F.col("prev_view").isNotNull()
    ).select(
        (
            (
                F.unix_timestamp("ts") - F.unix_timestamp("prev_view")
            ) / 60
        )
        .cast("bigint")
        .alias("mins")
    )
    h = lat.groupBy("mins").agg(F.count("*").alias("c"))
    w_cum = (
        Window.orderBy("mins")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy()
    cum = h.select(
        "mins", "c",
        F.sum("c").over(w_cum).alias("cm"),
        F.sum("c").over(w_all).alias("n"),
    )
    return cum.agg(
        F.max("n").cast("bigint").alias("n_conversions"),
        F.min(
            F.when(F.col("cm") * 2 >= F.col("n"), F.col("mins"))
        ).cast("bigint").alias("p50_mins"),
        F.min(
            F.when(F.col("cm") * 10 >= F.col("n") * 9, F.col("mins"))
        ).cast("bigint").alias("p90_mins"),
        F.max("mins").cast("bigint").alias("max_mins"),
    )


# ---------------------------------------------------------------------------
# q214 — governance: license bill-of-materials per training shard
# ---------------------------------------------------------------------------

# Fixture license classes keyed by the numeric source suffix — in
# production this is a real source->license dimension table.
LICENSE_CLASSES = ("permissive", "attribution", "research-only",
                   "restricted")


def _license_case(src_expr: str) -> str:
    arms = " ".join(
        f"WHEN CAST(substring({src_expr}, 4) AS INT) % 4 = {i} "
        f"THEN '{v}'"
        for i, v in enumerate(LICENSE_CLASSES)
    )
    return f"(CASE {arms} END)"


@query(
    "q214_license_bom",
    f"""
    WITH d AS (
      SELECT doc_id, n_chars,
             ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 4))
               ::BIGINT % {SHARD_N} AS shard,
             {_license_case('source')} AS license
      FROM documents
    ),
    cell AS (
      SELECT shard, license, COUNT(*) AS n_docs,
             SUM(n_chars) AS n_chars
      FROM d GROUP BY 1, 2
    ),
    tot AS (SELECT shard, SUM(n_docs) AS t FROM cell GROUP BY 1)
    SELECT cell.shard, license,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_docs::HUGEINT * 1000000 // t AS BIGINT) AS share_ppm,
           CAST(CASE WHEN license = 'restricted' THEN 1 ELSE 0 END
                AS BIGINT) AS flag_restricted
    FROM cell JOIN tot ON tot.shard = cell.shard
    """,
)
def q214(spark, sf_dir):
    """The license bill-of-materials a model release audit asks for:
    per training shard (q69's salted-hash placement), the exact
    composition by license class — doc and char mass, within-shard
    share, and a flag on every restricted cell so "which shards must
    be excluded from the commercial run" is one filter. License here
    derives from a fixture rule on the source suffix; in production
    it is a broadcast source->license dimension and the plan is
    identical.

    Spark shape: one map-only pass derives (shard, license), ONE
    (shard x license)-keyed hash aggregate (<= SHARD_N x 4 cells)
    with map-side partials; shard totals and shares run on the cell
    relation. At 10^12 docs: one scan, one tiny exchange."""
    d = load(spark, sf_dir, "documents").select(
        F.expr(
            "cast(conv(substring(md5(concat('shard:', cast(doc_id as"
            f" string))), 1, 4), 16, 10) as bigint) % {SHARD_N}"
        ).alias("shard"),
        F.expr(_license_case("source")).alias("license"),
        "n_chars",
    )
    cell = d.groupBy("shard", "license").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("nc")
    )
    tot = cell.groupBy("shard").agg(F.sum("n_docs").alias("t"))
    return cell.join(F.broadcast(tot), "shard").select(
        "shard",
        "license",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("nc").cast("bigint").alias("n_chars"),
        F.expr(
            "cast(cast(n_docs as decimal(38,0)) * 1000000 div t"
            " as bigint)"
        ).alias("share_ppm"),
        F.when(F.col("license") == "restricted", 1)
        .otherwise(0)
        .cast("bigint")
        .alias("flag_restricted"),
    )


# ---------------------------------------------------------------------------
# q215 — data selection: greedy max-cover (submodular vocab coverage)
# ---------------------------------------------------------------------------

MAXCOV_PICKS = 4


def _maxcov_oracle_sql() -> str:
    """Unrolled greedy max-cover chain (the q176 chained-CTE pattern):
    pick_k = argmax over unpicked docs of words NOT yet covered
    (zero-gain docs stay eligible — both engines must agree when
    coverage saturates), covered_k = covered_{k-1} ∪ pick_k's words."""
    ctes = [
        """w AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    m1 AS (SELECT doc_id, COUNT(*) AS m FROM w GROUP BY 1),
    p1 AS (SELECT doc_id, m FROM m1 ORDER BY m DESC, doc_id LIMIT 1),
    c1 AS (SELECT DISTINCT tok FROM w
           WHERE doc_id = (SELECT doc_id FROM p1))"""
    ]
    for k in range(2, MAXCOV_PICKS + 1):
        prev_picks = " , ".join(f"(SELECT doc_id FROM p{j})"
                                for j in range(1, k))
        ctes.append(f"""m{k} AS (
      SELECT w.doc_id,
             SUM(CASE WHEN c{k - 1}.tok IS NULL THEN 1 ELSE 0 END) AS m
      FROM w LEFT JOIN c{k - 1} ON c{k - 1}.tok = w.tok
      WHERE w.doc_id NOT IN ({prev_picks})
      GROUP BY w.doc_id
    ),
    p{k} AS (SELECT doc_id, m FROM m{k} ORDER BY m DESC, doc_id LIMIT 1),
    c{k} AS (SELECT tok FROM c{k - 1}
             UNION
             SELECT tok FROM w
             WHERE doc_id = (SELECT doc_id FROM p{k}))""")
    arms = "\n    UNION ALL\n    ".join(
        f"""SELECT {k} AS pick_order,
           (SELECT doc_id FROM p{k}) AS doc_id,
           CAST((SELECT m FROM p{k}) AS BIGINT) AS marginal_gain,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c{k}) AS covered_total"""
        for k in range(1, MAXCOV_PICKS + 1)
    )
    # rows whose pick is NULL (corpus exhausted before round K) are
    # dropped — parity with the engine loop's early stop
    return (
        "WITH " + ",\n    ".join(ctes)
        + "\n    SELECT * FROM (\n    " + arms
        + "\n    ) WHERE doc_id IS NOT NULL"
    )


@query("q215_maxcover_selection", _maxcov_oracle_sql())
def q215(spark, sf_dir):
    """Greedy maximum-coverage selection: pick MAXCOV_PICKS documents
    that together cover the most distinct vocabulary — the submodular
    data-selection rule (greedy = (1 - 1/e)-approximation, Nemhauser
    1978) behind coverage-driven corpus subset selection, and the
    lexical twin of q176's geometric k-center. Output per pick: the
    chosen doc, its marginal gain (NEW words it contributes), and
    cumulative coverage; gains are non-increasing by submodularity —
    the invariant the unit test pins. Zero-gain docs remain eligible
    so both engines agree after coverage saturates.

    Spark shape: q176's bounded-driver-iteration pattern — each of
    the MAXCOV_PICKS rounds is ONE map-only corpus pass: the covered
    word set rides as a 1-ROW BROADCAST relation carrying the array
    (constant plan size regardless of vocabulary — an inlined
    F.array-of-literals would grow the expression tree with every
    real-corpus pick), marginal = size(array_except(toks, cov))
    in-row, then a TakeOrderedAndProject(1) argmax; driver state is
    the covered word set (bounded by picks x doc vocabulary). The
    loop stops early when the candidate set is exhausted (corpus
    smaller than MAXCOV_PICKS). The tokenized relation is materialized
    ONCE (q112's discipline) so the corpus is scanned and tokenized a
    single time instead of once per round — at 10^12 docs that is 1
    linear scan + K cached-relation passes, zero corpus shuffles. The
    oracle unrolls the same chain as chained CTEs."""
    # null-text docs have no tokens on either engine (unnest of NULL
    # emits zero oracle rows) — exclude them from candidacy, which also
    # keeps covered.update(best.toks) total
    d = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.expr("array_distinct(split(trim(text), '\\\\s+'))").alias(
                "toks"
            ),
        )
        .filter(F.col("toks").isNotNull())
        .transform(materialize)
    )
    covered: set[str] = set()
    picked: list[int] = []
    out = []
    for k in range(1, MAXCOV_PICKS + 1):
        cov_df = spark.createDataFrame(
            [(sorted(covered),)], "cov array<string>"
        )
        cand = d
        if picked:
            cand = cand.filter(~F.col("doc_id").isin(picked))
        rows = (
            cand.crossJoin(F.broadcast(cov_df))
            .select(
                "doc_id",
                "toks",
                F.size(F.array_except("toks", "cov")).alias("m"),
            )
            .orderBy(F.desc("m"), F.asc("doc_id"))
            .limit(1)
            .collect()
        )
        if not rows:
            break
        best = rows[0]
        picked.append(best.doc_id)
        covered.update(best.toks)
        out.append((k, best.doc_id, int(best.m), len(covered)))
    return spark.createDataFrame(
        out,
        "pick_order int, doc_id bigint, marginal_gain bigint, "
        "covered_total bigint",
    )


# ---------------------------------------------------------------------------
# q216 — retrieval eval: MRR@10 and P@5 under label relevance
# ---------------------------------------------------------------------------

MRR_K = 10
PREC_K = 5


@query(
    "q216_retrieval_mrr",
    _EMB_DIMS_CTE
    + f"""
    , dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(CAST(q.v * c.v AS DECIMAL(28,12))) AS DOUBLE) AS dot
      FROM dims q JOIN dims c ON q.pos = c.pos AND q.vec_id < 5
                                AND c.vec_id <> q.vec_id
      GROUP BY 1, 2
    ), scored AS (
      SELECT query_id, neighbor_id,
             (floor(dot / (nq.nrm * nc.nrm) * 1000000.0) / 1000000.0)
               AS cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY floor(dot / (nq.nrm * nc.nrm) * 1000000.0) DESC,
                        neighbor_id ASC) AS rn
      FROM dots
      JOIN norms nq ON nq.vec_id = dots.query_id
      JOIN norms nc ON nc.vec_id = dots.neighbor_id
    ), top AS (
      SELECT s.query_id, s.neighbor_id, s.rn,
             CASE WHEN eq.label = en.label THEN 1 ELSE 0 END AS rel
      FROM scored s
      JOIN embeddings eq ON eq.vec_id = s.query_id
      JOIN embeddings en ON en.vec_id = s.neighbor_id
      WHERE s.rn <= {MRR_K}
    )
    SELECT query_id,
           CAST(COALESCE(MIN(CASE WHEN rel = 1 THEN rn END), 0) AS BIGINT)
             AS first_rel_rank,
           CAST(COALESCE(1000000 // MIN(CASE WHEN rel = 1 THEN rn END), 0)
                AS BIGINT) AS mrr_e6,
           CAST(SUM(CASE WHEN rel = 1 AND rn <= {PREC_K} THEN 1 ELSE 0 END)
                * 1000000 // {PREC_K} AS BIGINT) AS p{PREC_K}_ppm
    FROM top GROUP BY query_id
    """,
)
def q216(spark, sf_dir):
    """Ranking-quality eval for the similarity stack: per query
    vector, the rank of the first SAME-LABEL neighbor in the exact
    cosine top-{MRR_K} (reciprocal rank in exact e6 — 1/rank is
    rational, so MRR needs no float), and precision@{PREC_K} in ppm.
    Complements the recall audits (q86/q128/q143), which only ask
    "did the truth come back", with "how high did relevant results
    rank" — the metric a retrieval-augmented pipeline actually tunes
    against; relevance is the embedding label (q147's class
    structure).

    Spark shape: q21's brute-force discipline — 5 query vectors
    broadcast with arrays intact, dots in-row (zip_with + exact
    decimal fold), ONE query-partitioned window over the bounded
    candidate relation, label lookup rides the same broadcast. The
    corpus contributes one map pass."""
    e = _load_embeddings(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _nrm_dec(F.col("embedding")).alias("q_nrm"),
        F.col("label").alias("q_label"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        _nrm_dec(F.col("embedding")).alias("c_nrm"),
        F.col("label").alias("c_label"),
    )
    key = F.floor(
        _dot_dec(F.col("q_emb"), F.col("c_emb"))
        / (F.col("q_nrm") * F.col("c_nrm"))
        * 1000000.0
    )
    scored = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        key.alias("key"),
        F.when(F.col("q_label") == F.col("c_label"), 1)
        .otherwise(0)
        .alias("rel"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("key"), F.asc("neighbor_id")
    )
    top = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= MRR_K
    )
    return top.groupBy("query_id").agg(
        F.coalesce(
            F.min(F.when(F.col("rel") == 1, F.col("rn"))), F.lit(0)
        ).cast("bigint").alias("first_rel_rank"),
        F.coalesce(
            F.expr("1000000 div min(case when rel = 1 then rn end)"),
            F.lit(0),
        ).cast("bigint").alias("mrr_e6"),
        F.expr(
            f"cast(sum(case when rel = 1 and rn <= {PREC_K} then 1"
            f" else 0 end) * 1000000 div {PREC_K} as bigint)"
        ).alias(f"p{PREC_K}_ppm"),
    )


# ---------------------------------------------------------------------------
# q217 — governance: dataset datasheet (one-row corpus summary)
# ---------------------------------------------------------------------------

DS_QUALITY_KEEP_E4 = 5000  # quality_e4 threshold the datasheet reports


@query(
    "q217_dataset_datasheet",
    f"""
    WITH scan AS (
      SELECT COUNT(*) AS n_docs,
             SUM(CAST({textstats.token_count_sql('text')} AS BIGINT))
               AS n_tokens,
             COUNT(DISTINCT lang) AS n_langs,
             COUNT(DISTINCT source) AS n_sources,
             SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS n_de,
             SUM(n_chars) AS n_chars,
             SUM(CASE WHEN {pii.pii_total_sql('text')} > 0
                      THEN 1 ELSE 0 END) AS n_pii_docs,
             SUM(CASE WHEN {textstats.quality_score_e4_sql('text')}
                       >= {DS_QUALITY_KEEP_E4} THEN 1 ELSE 0 END)
               AS n_keep
      FROM documents
    ),
    dup AS (
      SELECT CAST(SUM(c - 1) AS BIGINT) AS n_redundant
      FROM (SELECT COUNT(*) AS c FROM documents
            GROUP BY {textstats.fingerprint_sql('text')})
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_langs AS BIGINT) AS n_langs,
           CAST(n_sources AS BIGINT) AS n_sources,
           CAST(n_de::HUGEINT * 1000000 // n_docs AS BIGINT)
             AS de_share_ppm,
           CAST(n_chars::HUGEINT * 1000 // n_docs AS BIGINT)
             AS mean_chars_e3,
           n_redundant,
           CAST(n_pii_docs AS BIGINT) AS n_pii_docs,
           CAST(n_keep::HUGEINT * 1000000 // n_docs AS BIGINT)
             AS quality_keep_ppm
    FROM scan, dup
    """,
)
def q217(spark, sf_dir):
    """The dataset datasheet (Gebru et al. 2021's "datasheets for
    datasets", as data): ONE row summarizing the corpus — size in
    docs/tokens/chars, language and source breadth, German share,
    exact-duplicate redundancy, PII-bearing doc count, and the share
    clearing the quality bar. This is the artifact a release review
    reads first; every number is exact and re-derivable from the
    operators it summarizes (q17, q35, q52, q56).

    Spark shape: TWO corpus passes by necessity — the main scan agg
    (token counts, PII regexes, quality all in-row codegen; distinct
    lang/source collapse map-side over tiny domains) and the q17
    fingerprint aggregate for redundancy — crossed into one row.
    Nothing else shuffles; at 10^12 docs this is two scans with
    dimension-sized exchanges."""
    d = load(spark, sf_dir, "documents")
    scan = d.agg(
        F.count("*").alias("n_docs"),
        F.sum(
            textstats.token_count_col(F.col("text")).cast("bigint")
        ).alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(F.when(F.col("lang") == "de", 1).otherwise(0)).alias(
            "n_de"
        ),
        F.sum("n_chars").alias("nc"),
        F.sum(
            F.when(pii.pii_total_col(F.col("text")) > 0, 1).otherwise(0)
        ).alias("n_pii_docs"),
        F.sum(
            F.when(
                textstats.quality_score_e4_col(F.col("text"))
                >= DS_QUALITY_KEEP_E4,
                1,
            ).otherwise(0)
        ).alias("n_keep"),
    )
    dup = (
        d.groupBy(textstats.fingerprint_col(F.col("text")).alias("fp"))
        .agg(F.count("*").alias("c"))
        .agg(F.sum(F.col("c") - 1).cast("bigint").alias("n_redundant"))
    )
    return scan.crossJoin(F.broadcast(dup)).select(
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_langs").cast("bigint").alias("n_langs"),
        F.col("n_sources").cast("bigint").alias("n_sources"),
        F.expr(
            "cast(cast(n_de as decimal(38,0)) * 1000000 div n_docs"
            " as bigint)"
        ).alias("de_share_ppm"),
        F.expr(
            "cast(cast(nc as decimal(38,0)) * 1000 div n_docs as bigint)"
        ).alias("mean_chars_e3"),
        "n_redundant",
        F.col("n_pii_docs").cast("bigint").alias("n_pii_docs"),
        F.expr(
            "cast(cast(n_keep as decimal(38,0)) * 1000000 div n_docs"
            " as bigint)"
        ).alias("quality_keep_ppm"),
    )


# ---------------------------------------------------------------------------
# q218 — training throughput: length-sorted batching efficiency
# ---------------------------------------------------------------------------

BATCH_B = 8  # docs per padded batch


@query(
    "q218_batch_padding_gain",
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS nt,
             ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 4))
               ::BIGINT % {PACK_LANES} AS lane
      FROM documents
    ),
    arrival AS (
      SELECT lane, nt,
             (ROW_NUMBER() OVER (PARTITION BY lane ORDER BY doc_id) - 1)
               // {BATCH_B} AS b
      FROM t
    ),
    sorted_ AS (
      SELECT lane, nt,
             (ROW_NUMBER() OVER (PARTITION BY lane ORDER BY nt, doc_id)
              - 1) // {BATCH_B} AS b
      FROM t
    ),
    aw AS (
      SELECT SUM(MAX(nt) * COUNT(*) - SUM(nt)) OVER () AS waste,
             SUM(SUM(nt)) OVER () AS toks,
             ROW_NUMBER() OVER (ORDER BY lane, b) AS rn
      FROM arrival GROUP BY lane, b
    ),
    sw AS (
      SELECT SUM(MAX(nt) * COUNT(*) - SUM(nt)) OVER () AS waste,
             ROW_NUMBER() OVER (ORDER BY lane, b) AS rn
      FROM sorted_ GROUP BY lane, b
    )
    SELECT CAST(aw.toks AS BIGINT) AS n_tokens,
           CAST(aw.waste AS BIGINT) AS arrival_waste,
           CAST(sw.waste AS BIGINT) AS sorted_waste,
           CAST(aw.waste::HUGEINT * 1000000 // (aw.toks + aw.waste)
                AS BIGINT) AS arrival_pad_ppm,
           CAST(sw.waste::HUGEINT * 1000000 // (aw.toks + sw.waste)
                AS BIGINT) AS sorted_pad_ppm
    FROM aw, sw WHERE aw.rn = 1 AND sw.rn = 1
    """,
)
def q218(spark, sf_dir):
    """How much padding does length-sorted batching save? Every
    dynamic-batching stack pads each {BATCH_B}-doc batch to its
    longest member; batching in ARRIVAL order (doc_id) mixes lengths
    and pads heavily, batching in LENGTH order packs like with like.
    One row: total tokens, absolute padding waste under both
    policies, and each policy's padded-slot share in ppm — the
    measured justification for the sort (typically several x less
    waste).

    Spark shape: one map pass (token count + q74's salted lane), then
    per policy ONE lane-partitioned window (arrival order and length
    order — never a global sort; lanes batch independently, the q74
    writer property) feeding a (lane, batch)-sized aggregate; the two
    single-row summaries cross-join. At 10^12 docs: two lane-keyed
    exchanges, batch relations are corpus/B-sized."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("cast(size(split(trim(text), '\\\\s+')) as bigint)")
            .alias("nt"),
        F.expr(
            f"cast(conv(substring(md5(concat('pack:', cast(doc_id as"
            f" string))), 1, 4), 16, 10) as bigint) % {PACK_LANES}"
        ).alias("lane"),
    )

    # arrival-order batches
    wa = Window.partitionBy("lane").orderBy("doc_id")
    arrival = d.withColumn(
        "b", ((F.row_number().over(wa) - 1) / BATCH_B).cast("bigint")
    )
    ws = Window.partitionBy("lane").orderBy("nt", "doc_id")
    sorted_ = d.withColumn(
        "b", ((F.row_number().over(ws) - 1) / BATCH_B).cast("bigint")
    )

    def summarize(batched, with_toks):
        per = batched.groupBy("lane", "b").agg(
            (F.max("nt") * F.count("*") - F.sum("nt")).alias("w"),
            F.sum("nt").alias("s"),
        )
        aggs = [F.sum("w").cast("bigint").alias("waste")]
        if with_toks:
            aggs.append(F.sum("s").cast("bigint").alias("toks"))
        return per.agg(*aggs)

    aw = summarize(arrival, True)
    sw = summarize(sorted_, False).select(
        F.col("waste").alias("sorted_waste")
    )
    return aw.crossJoin(F.broadcast(sw)).select(
        F.col("toks").alias("n_tokens"),
        F.col("waste").alias("arrival_waste"),
        F.col("sorted_waste"),
        F.expr(
            "cast(cast(waste as decimal(38,0)) * 1000000"
            " div (toks + waste) as bigint)"
        ).alias("arrival_pad_ppm"),
        F.expr(
            "cast(cast(sorted_waste as decimal(38,0)) * 1000000"
            " div (toks + sorted_waste) as bigint)"
        ).alias("sorted_pad_ppm"),
    )


# ---------------------------------------------------------------------------
# q219 — corpus QC: lexical richness (type-token ratio + hapax share)
# ---------------------------------------------------------------------------


@query(
    "q219_lexical_richness",
    """
    WITH tok AS (
      SELECT source,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    v AS (SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2)
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(COUNT(*)::HUGEINT * 1000000 // SUM(c) AS BIGINT)
             AS ttr_ppm,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)::HUGEINT
                * 1000000 // COUNT(*) AS BIGINT) AS hapax_share_ppm
    FROM v GROUP BY source
    """,
)
def q219(spark, sf_dir):
    """Per source: vocabulary richness — type-token ratio and the
    hapax-legomenon share (words seen exactly once). Template-heavy
    or machine-generated sources show a LOW TTR and few hapaxes
    (the same strings over and over); OCR-noise sources show the
    opposite pathology (every garbled word is a hapax). Both tails
    are curation signals the mean-based stats (q15) miss.

    Spark shape: one explode into a (source, word)-keyed hash
    aggregate — map-side partials collapse each task to its local
    vocabulary (Heaps-law sublinear), so the shuffle carries vocab
    partials, not tokens (q193/q194's grain); the richness report
    then aggregates the vocab relation per source. At 10^12 docs:
    one vocab-grain exchange, one sources-sized one."""
    d = load(spark, sf_dir, "documents")
    v = (
        d.select(
            "source",
            F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    return v.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.expr(
            "cast(cast(count(*) as decimal(38,0)) * 1000000 div sum(c)"
            " as bigint)"
        ).alias("ttr_ppm"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint")
            .alias("n_hapax"),
        F.expr(
            "cast(cast(sum(case when c = 1 then 1 else 0 end)"
            " as decimal(38,0)) * 1000000 div count(*) as bigint)"
        ).alias("hapax_share_ppm"),
    )


# ---------------------------------------------------------------------------
# q220 — embedding diagnostics: cluster separation (Davies-Bouldin-lite)
# ---------------------------------------------------------------------------


@query(
    "q220_cluster_separation",
    _EMB_DIMS_CTE
    + """
    , lab AS (
      SELECT d.vec_id, e.label, d.pos, d.v
      FROM dims d JOIN embeddings e ON e.vec_id = d.vec_id
    ),
    ns AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n
      FROM embeddings WHERE len(embedding) > 0 GROUP BY label
    ),
    a AS (
      SELECT label, pos,
             CAST(floor(CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE)
                        * 1000000.0) AS BIGINT) AS a
      FROM lab GROUP BY 1, 2
    ),
    ssq AS (
      SELECT label,
             CAST(floor(CAST(SUM(CAST(v * v AS DECIMAL(28,12))) AS DOUBLE)
                        * 1000000.0) AS BIGINT) AS ss
      FROM lab GROUP BY 1
    ),
    intra AS (
      SELECT a.label,
             CAST(((MAX(ssq.ss)::HUGEINT * 1000000 * MAX(ns.n)
                    - SUM(a.a::HUGEINT * a.a)) * 1000000)
                  // (1000000000000::HUGEINT * MAX(ns.n) * MAX(ns.n))
                  AS BIGINT) AS intra_f6
      FROM a
      JOIN ssq ON ssq.label = a.label
      JOIN ns ON ns.label = a.label
      GROUP BY a.label
    ),
    pd AS (
      SELECT x.label AS la, y.label AS lb,
             CAST((SUM((x.a::HUGEINT * ny.n - y.a::HUGEINT * nx.n)
                       * (x.a::HUGEINT * ny.n - y.a::HUGEINT * nx.n))
                   * 1000000)
                  // (1000000000000::HUGEINT * nx.n * nx.n * ny.n * ny.n)
                  AS BIGINT) AS d2_f6
      FROM a x
      JOIN a y ON y.pos = x.pos AND y.label <> x.label
      JOIN ns nx ON nx.label = x.label
      JOIN ns ny ON ny.label = y.label
      GROUP BY x.label, y.label, nx.n, ny.n
    ),
    near AS (
      SELECT la, lb, d2_f6,
             ROW_NUMBER() OVER (PARTITION BY la
                                ORDER BY d2_f6 ASC, lb ASC) AS rn
      FROM pd
    )
    SELECT near.la AS label, ns.n AS n_vecs, intra.intra_f6,
           near.lb AS nearest_label, near.d2_f6 AS nearest_d2_f6,
           CAST(CASE WHEN intra.intra_f6 = 0 THEN 0
                     ELSE near.d2_f6::HUGEINT * 1000 // intra.intra_f6
                END AS BIGINT) AS separation_e3
    FROM near
    JOIN intra ON intra.label = near.la
    JOIN ns ON ns.label = near.la
    WHERE near.rn = 1
    """,
)
def q220(spark, sf_dir):
    """Per label: how tight is the cluster and how far is its nearest
    neighboring centroid — mean squared distance to own centroid
    (intra), nearest other centroid's squared distance, and their
    ratio (separation_e3; Davies-Bouldin's ingredient, higher =
    cleaner labels). A label whose separation falls under ~1000
    (nearest centroid closer than its own spread) is one the
    SemDeDup cells (q135) and label-relevance evals (q216) cannot
    trust.

    Exactness: everything derives from per-label sufficient
    statistics — per-dim sums and the sum of squared norms, floored
    to e6-scaled BIGINT exactly as q187 — then intra = E||x||² -
    ||c||² and centroid distances use cross-multiplied INTEGER
    algebra (products in DECIMAL(38,0)/HUGEINT, one floor-division
    each) so no decimal->double cast past 2^53 ever happens.

    Spark shape: ONE corpus-scale stage — the (label) wide aggregate
    (64 decimal dim-sums + the squared-norm sum + count, q105/q187
    pattern); stack to long form (zero-shuffle Expand), and all the
    pair algebra runs on a labels x 64 relation. At 10^12 vectors:
    one exchange carrying labels x 66 values per task."""
    emb = _load_embeddings(spark, sf_dir)
    dim_sums = [
        F.expr(
            f"cast(floor(cast(sum(cast(cast(try_element_at(embedding, {i})"
            f" as double) as decimal(28,12))) as double) * 1000000.0)"
            f" as bigint)"
        ).alias(f"s{i}")
        for i in range(1, 65)
    ]
    wide = emb.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr(
            "cast(floor(cast(sum(aggregate(embedding,"
            " cast(0 as decimal(38,12)), (acc, x) -> cast(acc +"
            " cast(cast(x as double) * cast(x as double)"
            " as decimal(28,12)) as decimal(38,12)))) as double)"
            " * 1000000.0) as bigint)"
        ).alias("ss"),
        *dim_sums,
    )
    stack = ", ".join(f"{i}, s{i}" for i in range(1, 65))
    long = wide.select(
        "label", "n", "ss", F.expr(f"stack(64, {stack}) as (pos, a)")
    )
    intra = long.groupBy("label").agg(
        F.max("n").alias("n"),
        F.expr(
            "cast((cast(max(ss) as decimal(38,0)) * 1000000 * max(n)"
            " - sum(cast(a as decimal(38,0)) * a)) * 1000000"
            " div (cast(1000000000000 as decimal(38,0)) * max(n) * max(n))"
            " as bigint)"
        ).alias("intra_f6"),
    )
    x = long.select("label", "n", "pos", "a")
    y = x.select(
        F.col("label").alias("lb"),
        F.col("n").alias("nb"),
        "pos",
        F.col("a").alias("b"),
    )
    pd_ = (
        x.join(y, (x.pos == y.pos) & (x.label != y.lb))
        .groupBy(F.col("label").alias("la"), "n", "lb", "nb")
        .agg(
            F.expr(
                "cast(sum((cast(a as decimal(38,0)) * nb"
                " - cast(b as decimal(38,0)) * n)"
                " * (cast(a as decimal(38,0)) * nb"
                " - cast(b as decimal(38,0)) * n)) * 1000000"
                " div (cast(1000000000000 as decimal(38,0))"
                " * n * n * nb * nb) as bigint)"
            ).alias("d2_f6")
        )
    )
    w = Window.partitionBy("la").orderBy(F.asc("d2_f6"), F.asc("lb"))
    near = pd_.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return near.join(F.broadcast(intra), near.la == intra.label).select(
        F.col("la").alias("label"),
        intra.n.alias("n_vecs"),
        "intra_f6",
        F.col("lb").alias("nearest_label"),
        F.col("d2_f6").alias("nearest_d2_f6"),
        F.expr(
            "cast(case when intra_f6 = 0 then 0"
            " else cast(d2_f6 as decimal(38,0)) * 1000 div intra_f6 end"
            " as bigint)"
        ).alias("separation_e3"),
    )


# ---------------------------------------------------------------------------
# q221 — interleaved extraction: cross-span de-hyphenation healing
# ---------------------------------------------------------------------------


@query(
    "q221_cross_span_healing",
    """
    WITH base AS (
      SELECT doc_id, source,
             regexp_split_to_array(trim(text), '\\s+') AS w
      FROM documents WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 3
    ),
    cut AS (
      SELECT doc_id, source, w, len(w) AS nw, len(w) // 2 AS m,
             doc_id % 3 = 0 AS is_split
      FROM base
    ),
    spans AS (
      SELECT doc_id, source, is_split,
             array_to_string(w, ' ') AS truth,
             CASE WHEN is_split THEN
               CASE WHEN m > 1
                    THEN array_to_string(list_slice(w, 1, m - 1), ' ')
                         || ' ' ELSE '' END
               || substr(w[m], 1, (length(w[m]) + 1) // 2) || '-'
             ELSE array_to_string(list_slice(w, 1, m), ' ')
             END AS s1,
             CASE WHEN is_split THEN
               substr(w[m], (length(w[m]) + 1) // 2 + 1)
               || ' ' || array_to_string(list_slice(w, m + 1, nw), ' ')
             ELSE array_to_string(list_slice(w, m + 1, nw), ' ')
             END AS s2
      FROM cut
    ),
    healed AS (
      SELECT doc_id, source, is_split, truth,
             CASE WHEN s1 LIKE '%-'
                   AND substr(s2, 1, 1) BETWEEN 'a' AND 'z'
                  THEN substr(s1, 1, length(s1) - 1) || s2
                  ELSE s1 || ' ' || s2 END AS healed
      FROM spans
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN is_split THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hyphen_boundaries,
           CAST(SUM(CASE WHEN healed = truth THEN 1 ELSE 0 END)
                AS BIGINT) AS n_round_trip_ok
    FROM healed GROUP BY source
    """,
)
def q221(spark, sf_dir):
    """Words hyphen-split ACROSS span boundaries — a PDF page break
    in the middle of 'Versiche-/rung' lands the halves in different
    spans, where per-span German normalization (B7's in-span
    de-hyphenation) cannot see the join. The fixture cuts each doc
    into two spans at the middle word, hyphen-splitting that word for
    the doc_id % 3 cohort; the healer merges a trailing '-' with a
    lowercase-initial next span and otherwise joins with a space; the
    audit proves per source that EVERY doc round-trips to its
    original text — split cohort healed, clean cohort not falsely
    merged.

    Spark shape: construction, healing, and the round-trip check are
    all in-row string/array algebra (slice/substring/concat — zero
    explode, zero Python), then ONE sources-sized aggregate. At
    10^12 docs: one map pass, one tiny exchange."""
    d = load(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "source", F.split(F.trim("text"), r"\s+").alias("w")
    ).filter(F.expr("size(w) >= 3"))
    cut = base.select(
        "doc_id", "source", "w",
        F.expr("size(w)").alias("nw"),
        F.expr("cast(size(w) div 2 as int)").alias("m"),
        F.expr("doc_id % 3 = 0").alias("is_split"),
    )
    spans = cut.select(
        "doc_id", "source", "is_split",
        F.expr("array_join(w, ' ')").alias("truth"),
        F.expr(
            "CASE WHEN is_split THEN"
            " (CASE WHEN m > 1 THEN array_join(slice(w, 1, m - 1), ' ')"
            " || ' ' ELSE '' END)"
            " || substring(element_at(w, m), 1,"
            "    (length(element_at(w, m)) + 1) div 2) || '-'"
            " ELSE array_join(slice(w, 1, m), ' ') END"
        ).alias("s1"),
        F.expr(
            "CASE WHEN is_split THEN"
            " substring(element_at(w, m),"
            "   (length(element_at(w, m)) + 1) div 2 + 1)"
            " || ' ' || array_join(slice(w, m + 1, nw - m), ' ')"
            " ELSE array_join(slice(w, m + 1, nw - m), ' ') END"
        ).alias("s2"),
    )
    healed = spans.select(
        "source", "is_split", "truth",
        F.expr(
            "CASE WHEN s1 LIKE '%-'"
            " AND substring(s2, 1, 1) BETWEEN 'a' AND 'z'"
            " THEN substring(s1, 1, length(s1) - 1) || s2"
            " ELSE s1 || ' ' || s2 END"
        ).alias("healed"),
    )
    return healed.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("is_split"), 1).otherwise(0)).cast("bigint")
            .alias("n_hyphen_boundaries"),
        F.sum(
            F.when(F.col("healed") == F.col("truth"), 1).otherwise(0)
        ).cast("bigint").alias("n_round_trip_ok"),
    )


# ---------------------------------------------------------------------------
# q222 — event hygiene: burst-collapse dedup (replay scrubbing)
# ---------------------------------------------------------------------------

BURST_GAP_S = 5  # events within 5 s of the previous same-key event collapse


@query(
    "q222_burst_collapse",
    f"""
    WITH g AS (
      SELECT event_type,
             CASE WHEN date_diff('second',
                     LAG(ts) OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id), ts)
                     <= {BURST_GAP_S}
                  THEN 0 ELSE 1 END AS is_head
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(is_head) AS BIGINT) AS n_kept,
           CAST(COUNT(*) - SUM(is_head) AS BIGINT) AS n_dropped,
           CAST((COUNT(*) - SUM(is_head))::HUGEINT * 1000000 // COUNT(*)
                AS BIGINT) AS drop_ppm
    FROM g GROUP BY event_type
    """,
)
def q222(spark, sf_dir):
    """Replay scrubbing for event telemetry: a client retry or
    double-tap emits the same (user, type) event seconds apart, and
    every funnel/retention metric double-counts it. Collapse each
    burst — events within BURST_GAP_S of the PREVIOUS same-key event
    — onto its head (gaps-and-islands, q09's rule applied as dedup,
    chained bursts collapse transitively) and report the kept/dropped
    mass per event type. NULL lag (first event of a key) is a head
    by the CASE's ELSE arm on both engines.

    Spark shape: ONE (user_id, event_type)-keyed window shuffle
    computes every verdict; the report is a 5-row hash aggregate
    with map-side partials. At 10^12 events: one exchange, exactly
    what the q09 sessionizer already pays."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    g = e.select(
        "event_type",
        F.when(
            (
                F.unix_timestamp("ts")
                - F.unix_timestamp(F.lag("ts").over(w))
            )
            <= BURST_GAP_S,
            0,
        )
        .otherwise(1)
        .alias("is_head"),
    )
    return g.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("is_head").cast("bigint").alias("n_kept"),
        (F.count("*") - F.sum("is_head")).cast("bigint").alias("n_dropped"),
        F.expr(
            "cast(cast(count(*) - sum(is_head) as decimal(38,0))"
            " * 1000000 div count(*) as bigint)"
        ).alias("drop_ppm"),
    )


# ---------------------------------------------------------------------------
# q223 — capacity planning: diurnal load profile (p50/p95 hourly rate)
# ---------------------------------------------------------------------------


@query(
    "q223_diurnal_profile",
    """
    WITH b AS (
      SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
      FROM events
    ),
    days AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
      FROM b
    ),
    grid AS (
      SELECT d, unnest(range(24)) AS hod FROM days
    ),
    c AS (
      SELECT CAST(ts AS DATE) AS d, CAST(hour(ts) AS BIGINT) AS hod,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    filled AS (
      SELECT grid.hod, COALESCE(c.n, 0) AS n
      FROM grid LEFT JOIN c ON c.d = grid.d AND c.hod = grid.hod
    ),
    ranked AS (
      SELECT hod, n,
             ROW_NUMBER() OVER (PARTITION BY hod ORDER BY n, 1) AS rn,
             COUNT(*) OVER (PARTITION BY hod) AS nd
      FROM filled
    )
    SELECT CAST(hod AS BIGINT) AS hour_of_day,
           CAST(MAX(nd) AS BIGINT) AS n_days,
           CAST(MIN(CASE WHEN rn * 2 >= nd THEN n END) AS BIGINT)
             AS p50_events,
           CAST(MIN(CASE WHEN rn * 20 >= nd * 19 THEN n END) AS BIGINT)
             AS p95_events,
           CAST(MAX(n) AS BIGINT) AS max_events
    FROM ranked GROUP BY hod
    """,
)
def q223(spark, sf_dir):
    """Per hour-of-day: the distribution of hourly event counts
    across all observed days — median, p95, and max — the diurnal
    load curve capacity planning reads to size executors before the
    evening peak. Silent hours COUNT AS ZERO via the full day x 24
    grid (q68's gap-fill — without it a dead 3 AM hour silently
    inflates the percentiles); percentiles are exact integer rank
    rules over the per-day counts (q57 discipline; day counts have
    weight 1, so rank doubles as the CDF).

    Spark shape: the corpus collapses to ONE (date, hour) aggregate
    (at 10^12 events still only days x 24 rows); the grid generates
    in-row from the min/max bounds (broadcast single row), and the
    rank windows run on the tiny filled relation. One corpus-scale
    exchange."""
    e = load(spark, sf_dir, "events")
    b = e.agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    )
    grid = (
        b.select(
            F.explode(
                F.expr("sequence(d0, d1, interval 1 day)")
            ).alias("d")
        )
        .select("d", F.explode(F.expr("sequence(0, 23)")).alias("hod"))
        .select("d", F.col("hod").cast("bigint").alias("hod"))
    )
    c = e.groupBy(
        F.to_date("ts").alias("d"),
        F.hour("ts").cast("bigint").alias("hod"),
    ).agg(F.count("*").alias("n"))
    filled = grid.join(c, ["d", "hod"], "left").select(
        "hod", F.coalesce("n", F.lit(0)).alias("n")
    )
    wr = Window.partitionBy("hod").orderBy("n")
    wn = Window.partitionBy("hod")
    ranked = filled.select(
        "hod", "n",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("nd"),
    )
    return ranked.groupBy(F.col("hod").alias("hour_of_day")).agg(
        F.max("nd").cast("bigint").alias("n_days"),
        F.min(
            F.when(F.col("rn") * 2 >= F.col("nd"), F.col("n"))
        ).cast("bigint").alias("p50_events"),
        F.min(
            F.when(F.col("rn") * 20 >= F.col("nd") * 19, F.col("n"))
        ).cast("bigint").alias("p95_events"),
        F.max("n").cast("bigint").alias("max_events"),
    )


# ---------------------------------------------------------------------------
# q224 — dedup: media-evidence candidates (shared media_ref pairs)
# ---------------------------------------------------------------------------

MEDIA_MATCH_MIN = 2   # pairs must share at least this many refs
MEDIA_DF_CAP = 5      # postings cap — a ref in more docs is boilerplate


@query(
    "q224_media_evidence_dedup",
    f"""
    WITH corpus AS (
      SELECT doc_id, doc_id AS orig FROM documents
      UNION ALL
      SELECT doc_id + 100000, doc_id FROM documents WHERE doc_id % 7 = 0
    ),
    img AS (
      SELECT c.doc_id,
             'media/' || substr(md5(c.orig || ':' || u.i), 1, 8) AS ref
      FROM corpus c,
           LATERAL unnest(range(2 + c.orig % 5)) AS u(i)
      WHERE (c.orig + u.i) % 3 = 0
    ),
    df AS (
      SELECT ref FROM img GROUP BY ref
      HAVING COUNT(*) BETWEEN 2 AND {MEDIA_DF_CAP}
    ),
    post AS (SELECT img.doc_id, img.ref FROM img JOIN df USING (ref)),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared_refs
      FROM post a JOIN post b
        ON b.ref = a.ref AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared_refs FROM pairs
    WHERE n_shared_refs >= {MEDIA_MATCH_MIN}
    """,
)
def q224(spark, sf_dir):
    """Text-independent duplicate detection for interleaved docs: two
    documents embedding the SAME images are re-crawls or mirrors even
    when the surrounding text was rewritten — the signal every
    text-hash dedup (q17/q29) misses by construction. Fixture: image
    refs are md5-unique per (original doc, position); the q101
    re-crawl cohort (doc_id % 7, re-entering as id+100000) keeps its
    original refs, so the ONLY >= {MEDIA_MATCH_MIN}-shared-ref pairs
    are true re-crawls with at least 2 images.

    Spark shape: q18's inverted-index discipline on the media axis —
    per-doc refs explode (images only, ~1/3 of spans), a document-
    frequency cap drops boilerplate refs (site logos would otherwise
    fan out quadratically — the exact q18 hot-shingle lesson), and
    the equi-join runs on capped postings, never all-pairs. At 10^12
    docs: one ref-keyed exchange + a candidate-bounded join."""
    d = load(spark, sf_dir, "documents")
    corpus = d.select(
        F.col("doc_id"), F.col("doc_id").alias("orig")
    ).unionByName(
        d.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.col("doc_id").alias("orig"),
        )
    )
    refs = F.expr(
        "transform(filter(sequence(0, 1 + orig % 5),"
        " i -> (orig + i) % 3 = 0),"
        " i -> concat('media/', substring(md5(concat("
        "cast(orig as string), ':', cast(i as string))), 1, 8)))"
    )
    img = corpus.select("doc_id", F.explode(refs).alias("ref"))
    df_ok = (
        img.groupBy("ref")
        .agg(F.count("*").alias("c"))
        .filter(
            (F.col("c") >= 2) & (F.col("c") <= MEDIA_DF_CAP)
        )
        .select("ref")
    )
    post = img.join(df_ok, "ref")
    a = post.select(F.col("doc_id").alias("doc_a"), "ref")
    b = post.select(F.col("doc_id").alias("doc_b"), "ref")
    return (
        a.join(b, ["ref"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_shared_refs"))
        .filter(F.col("n_shared_refs") >= MEDIA_MATCH_MIN)
    )


# ---------------------------------------------------------------------------
# q225 — interleaved provenance: hotlink (third-party media) audit
# ---------------------------------------------------------------------------


@query(
    "q225_hotlink_audit",
    """
    WITH img AS (
      SELECT d.doc_id, d.source,
             lower(d.source) || '.de' AS doc_host,
             CASE WHEN (d.doc_id + u.i) % 4 = 0
                  THEN 'cdn.example.net'
                  ELSE lower(d.source) || '.de' END AS media_host
      FROM documents d,
           LATERAL unnest(range(2 + d.doc_id % 5)) AS u(i)
      WHERE (d.doc_id + u.i) % 3 = 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(SUM(CASE WHEN media_host <> doc_host THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hotlinked,
           CAST(SUM(CASE WHEN media_host <> doc_host THEN 1 ELSE 0 END)
                ::HUGEINT * 1000000 // COUNT(*) AS BIGINT)
             AS hotlink_ppm,
           CAST(COUNT(DISTINCT CASE WHEN media_host <> doc_host
                                    THEN doc_id END) AS BIGINT)
             AS n_docs_hotlinking
    FROM img GROUP BY source
    """,
)
def q225(spark, sf_dir):
    """Third-party (hotlinked) media per source: image spans whose
    media host differs from the document's own host (q93's canonical
    host rule; the media-host fixture puts every fourth image on a
    CDN). A source hotlinking heavily is the one whose media will
    rot, duplicate across the corpus (q210/q224's shared refs), and
    carry tracking pixels — the provenance dial a multimodal crawl
    policy tunes. Reports image counts, hotlinked share in ppm, and
    how many distinct docs hotlink.

    Spark shape: image spans derive in-row (the q195 residue rules),
    hosts are string algebra in the same codegen pass, and ONE
    sources-sized aggregate (the distinct-doc count is the standard
    two-phase expand over source-bounded groups) finishes it. At
    10^12 docs: one scan, dimension-sized exchanges."""
    d = load(spark, sf_dir, "documents")
    pairs = F.expr(
        "transform(filter(sequence(0, 1 + doc_id % 5),"
        " i -> (doc_id + i) % 3 = 0),"
        " i -> case when (doc_id + i) % 4 = 0 then 'cdn.example.net'"
        " else concat(lower(source), '.de') end)"
    )
    img = d.select(
        "doc_id",
        "source",
        F.concat(F.lower("source"), F.lit(".de")).alias("doc_host"),
        F.explode(pairs).alias("media_host"),
    )
    hot = F.col("media_host") != F.col("doc_host")
    return img.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_images"),
        F.sum(F.when(hot, 1).otherwise(0)).cast("bigint")
            .alias("n_hotlinked"),
        F.expr(
            "cast(cast(sum(case when media_host != doc_host then 1"
            " else 0 end) as decimal(38,0)) * 1000000 div count(*)"
            " as bigint)"
        ).alias("hotlink_ppm"),
        F.countDistinct(
            F.when(hot, F.col("doc_id"))
        ).cast("bigint").alias("n_docs_hotlinking"),
    )


# ---------------------------------------------------------------------------
# q226 — traffic hygiene: power-user concentration (top-1% share)
# ---------------------------------------------------------------------------


@query(
    "q226_user_concentration",
    """
    WITH u AS (
      SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1
    ),
    r AS (
      SELECT n,
             ROW_NUMBER() OVER (ORDER BY n DESC, user_id ASC) AS rn,
             COUNT(*) OVER () AS nu,
             SUM(n) OVER () AS tot
      FROM u
    ),
    k AS (SELECT greatest(nu // 100, 1) AS k, nu, tot FROM r LIMIT 1)
    SELECT CAST(k.nu AS BIGINT) AS n_users,
           CAST(k.k AS BIGINT) AS k_top,
           CAST(SUM(CASE WHEN r.rn <= k.k THEN r.n ELSE 0 END)
                AS BIGINT) AS top_events,
           CAST(k.tot AS BIGINT) AS total_events,
           CAST(SUM(CASE WHEN r.rn <= k.k THEN r.n ELSE 0 END)
                ::HUGEINT * 1000000 // k.tot AS BIGINT)
             AS top_share_ppm
    FROM r, k GROUP BY k.nu, k.k, k.tot
    """,
)
def q226(spark, sf_dir):
    """What share of all events do the top 1% most active users
    produce? Healthy product traffic concentrates mildly; a
    top-share near 10^6 ppm means a handful of accounts (bots,
    scrapers, integration tests) dominate the stream and every
    aggregate downstream of it — the concentration twin of q188's
    rate-cap detector and q154's Gini, but aimed at the entity
    level. k = max(n_users/100, 1) keeps the metric defined on small
    populations.

    Spark shape (round-4 restatement — q57/q88 histogram discipline,
    ZERO global windows): the user relation collapses into the
    per-activity-count histogram (n → cnt); the descending CDF over
    the histogram is computed as a two-level scan — a window
    PARTITIONED by the count's bit-length band (≤64 disjoint,
    value-ordered bands, so no partition ever holds the whole
    histogram) plus band-level prefix totals from a ≤64-row broadcast
    self-join. The kth-largest threshold row is then one filter;
    rank-tied users all share the same n, so the oracle's
    user_id tie-break cannot change the top-k event SUM and the
    histogram answer is exactly the ranking answer. The old plan's
    row_number over ALL users (single-partition sort of an
    entity-sized relation — 10^8–10^9 users at real scale) is gone;
    corpus-scale work is the one map-side-combined user aggregate."""
    e = load(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(F.count("*").alias("n"))
    # The histogram feeds FOUR consumers (in-band CDF, band totals,
    # prefix join, grand totals); materialize it once so the
    # corpus-scale user aggregate runs exactly once instead of being
    # re-derived per consumer (the q161 shared-postings discipline).
    h = (
        u.groupBy("n")
        .agg(F.count("*").alias("cnt"))
        .transform(materialize)
    )
    # descending CDF over the histogram via the shared banded-prefix
    # helper (round-5 consolidation: one audited implementation for
    # q226/q178/the tie rank instead of three hand-rolled copies)
    c = _banded_prefix(
        h,
        "n",
        {
            "cum_users": F.col("cnt"),
            "cum_events": F.col("cnt") * F.col("n"),
        },
        band=F.expr("length(bin(n))"),
        ascending=False,
    )
    tot = h.agg(
        F.sum("cnt").alias("nu"),
        F.sum(F.col("cnt") * F.col("n")).alias("tot"),
    )
    r = c.crossJoin(F.broadcast(tot)).withColumn(
        "k", F.expr("greatest(nu div 100, 1)")
    )
    thr = r.filter(
        (F.col("cum_users") - F.col("cnt") < F.col("k"))
        & (F.col("k") <= F.col("cum_users"))
    )
    return thr.select(
        F.col("nu").cast("bigint").alias("n_users"),
        F.col("k").cast("bigint").alias("k_top"),
        F.expr(
            "cast(cum_events - cnt * n + (k - (cum_users - cnt)) * n"
            " as bigint)"
        ).alias("top_events"),
        F.col("tot").cast("bigint").alias("total_events"),
        F.expr(
            "cast(cast(cum_events - cnt * n + (k - (cum_users - cnt)) * n"
            " as decimal(38,0)) * 1000000 div tot as bigint)"
        ).alias("top_share_ppm"),
    )


# ---------------------------------------------------------------------------
# q227 — corpus QC: OCR-artifact density (B7 rules as an audit)
# ---------------------------------------------------------------------------


@query(
    "q227_ocr_artifact_density",
    f"""
    WITH wire AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 6 = 0 THEN
               replace(replace(text, 'sch', 'fch'), ' und ', ' nnd ')
             ELSE text END AS raw
      FROM documents
    ),
    n AS (
      SELECT doc_id, source, raw,
             {german.normalize_sql('raw')} AS clean
      FROM wire
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN clean <> raw THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dirty_docs,
           CAST(SUM(length(raw) - length(replace(raw, 'fch', '')))
                // 3 AS BIGINT) AS n_fch_artifacts,
           CAST(SUM(CASE WHEN clean <> raw THEN 1 ELSE 0 END)
                ::HUGEINT * 1000000 // COUNT(*) AS BIGINT)
             AS dirty_ppm
    FROM n GROUP BY source
    """,
)
def q227(spark, sf_dir):
    """The B7 German OCR-normalization rules run as a per-source
    AUDIT instead of a rewrite: how many documents would the kernel
    change (Fraktur f/s confusions, u/n 'nnd', transliterated
    umlauts, stray whitespace), and how dense are the classic 'fch'
    artifacts — the dial that decides which sources need the OCR
    post-processing pass at all, before paying it corpus-wide.
    Damage is planted deterministically (doc_id % 6 swaps sch->fch
    and und->nnd, q100's discipline) so the detector exercises both
    engines' full rule chains on real hits.

    Spark shape: the ENTIRE rule chain is the same codegen
    regexp_replace chain normalize_col compiles to (german.py's ONE
    rule table rendered per engine) — map-only, zero Python — then
    one sources-sized aggregate. At 10^12 docs: one scan, one tiny
    exchange."""
    d = load(spark, sf_dir, "documents")
    wire = d.select(
        "doc_id", "source",
        F.expr(
            "CASE WHEN doc_id % 6 = 0 THEN"
            " replace(replace(text, 'sch', 'fch'), ' und ', ' nnd ')"
            " ELSE text END"
        ).alias("raw"),
    )
    n = wire.select(
        "source", "raw", german.normalize_col(F.col("raw")).alias("clean")
    )
    dirty = F.col("clean") != F.col("raw")
    return n.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(dirty, 1).otherwise(0)).cast("bigint")
            .alias("n_dirty_docs"),
        F.expr(
            "cast(sum(length(raw) - length(replace(raw, 'fch', '')))"
            " div 3 as bigint)"
        ).alias("n_fch_artifacts"),
        F.expr(
            "cast(cast(sum(case when clean != raw then 1 else 0 end)"
            " as decimal(38,0)) * 1000000 div count(*) as bigint)"
        ).alias("dirty_ppm"),
    )


# ---------------------------------------------------------------------------
# q228 — retrieval scale: posting-cap (top-N postings) impact audit
# ---------------------------------------------------------------------------

PCAP_N = 20  # postings kept per term in the capped index


@query(
    "q228_posting_cap_audit",
    _BM25_SCORED_SQL
    + f"""
    , cand AS (
      SELECT per.doc_id, per.dl, per.tf0, per.tf1, per.tf2, sc.score_ppm
      FROM per JOIN sc ON sc.doc_id = per.doc_id
      WHERE sc.score_ppm > 0
    ),
    ranked AS (
      SELECT cand.*, t_tok, n_docs, df0, df1, df2,
             ROW_NUMBER() OVER (ORDER BY CAST(floor(CAST(22 * t_tok * tf0 * (2 * n_docs - 2 * df0 + 1) AS DOUBLE) / CAST((2 * df0 + 1) * (10 * t_tok * tf0 + 3 * t_tok + 9 * dl * n_docs) AS DOUBLE) * 1000000.0) AS BIGINT) DESC, doc_id) AS r0,
             ROW_NUMBER() OVER (ORDER BY CAST(floor(CAST(22 * t_tok * tf1 * (2 * n_docs - 2 * df1 + 1) AS DOUBLE) / CAST((2 * df1 + 1) * (10 * t_tok * tf1 + 3 * t_tok + 9 * dl * n_docs) AS DOUBLE) * 1000000.0) AS BIGINT) DESC, doc_id) AS r1,
             ROW_NUMBER() OVER (ORDER BY CAST(floor(CAST(22 * t_tok * tf2 * (2 * n_docs - 2 * df2 + 1) AS DOUBLE) / CAST((2 * df2 + 1) * (10 * t_tok * tf2 + 3 * t_tok + 9 * dl * n_docs) AS DOUBLE) * 1000000.0) AS BIGINT) DESC, doc_id) AS r2
      FROM cand, st
    ),
    capped AS (
      SELECT doc_id, score_ppm,
             (CASE WHEN r0 <= {PCAP_N} THEN CAST(floor(CAST(22 * t_tok * tf0 * (2 * n_docs - 2 * df0 + 1) AS DOUBLE) / CAST((2 * df0 + 1) * (10 * t_tok * tf0 + 3 * t_tok + 9 * dl * n_docs) AS DOUBLE) * 1000000.0) AS BIGINT) ELSE 0 END)
           + (CASE WHEN r1 <= {PCAP_N} THEN CAST(floor(CAST(22 * t_tok * tf1 * (2 * n_docs - 2 * df1 + 1) AS DOUBLE) / CAST((2 * df1 + 1) * (10 * t_tok * tf1 + 3 * t_tok + 9 * dl * n_docs) AS DOUBLE) * 1000000.0) AS BIGINT) ELSE 0 END)
           + (CASE WHEN r2 <= {PCAP_N} THEN CAST(floor(CAST(22 * t_tok * tf2 * (2 * n_docs - 2 * df2 + 1) AS DOUBLE) / CAST((2 * df2 + 1) * (10 * t_tok * tf2 + 3 * t_tok + 9 * dl * n_docs) AS DOUBLE) * 1000000.0) AS BIGINT) ELSE 0 END)
               AS capped_ppm
      FROM ranked
    ),
    ftop AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score_ppm DESC, doc_id)
               AS rn
      FROM capped
    ),
    ctop AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY capped_ppm DESC, doc_id)
               AS rn
      FROM capped
    )
    SELECT CAST({BM25_TOP_K} AS BIGINT) AS k,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM capped) AS n_candidates,
           CAST((SELECT COUNT(*) FROM ftop f JOIN ctop c
                 ON c.doc_id = f.doc_id
                 WHERE f.rn <= {BM25_TOP_K} AND c.rn <= {BM25_TOP_K})
                * 1000000 // least({BM25_TOP_K},
                    (SELECT COUNT(*) FROM capped)) AS BIGINT)
             AS overlap_ppm,
           CAST(CASE WHEN (SELECT doc_id FROM ftop WHERE rn = 1)
                        = (SELECT doc_id FROM ctop WHERE rn = 1)
                     THEN 1 ELSE 0 END AS BIGINT) AS top1_match
    """,
)
def q228(spark, sf_dir):
    """How much ranking quality does posting truncation cost? A
    100 TB search index cannot keep every posting: each term stores
    only its top PCAP_N documents by term frequency (the WAND/
    impact-ordered-index trade q137's docstring defers to). This
    audit scores the corpus both ways — full postings vs capped,
    where a doc outside a term's top-{PCAP_N} postings simply loses
    that term's contribution — and reports top-{BM25_TOP_K} overlap
    plus rank-1 agreement. The number that sizes PCAP_N, exactly as
    q86 sizes IVF_NPROBE and q128 sizes PQ_M.

    Spark shape: q122's two map passes produce the per-doc (tf, dl)
    relation; the per-term posting ranks are {len(BM25_TERMS)}
    windows over the CANDIDATE relation only (index-build work, not
    query work); both top-k picks and the overlap join run on
    candidate/top-k-sized relations. Corpus cost identical to
    q122."""
    d = load(spark, sf_dir, "documents")
    toks = F.expr(
        "filter(split(lower(regexp_replace(text, '[^a-zA-Z ]', ' ')), ' '),"
        " w -> w <> '')"
    )
    per = d.select(F.col("doc_id"), toks.alias("toks")).select(
        "doc_id",
        F.size("toks").cast("bigint").alias("dl"),
        *[
            F.expr(f"cast(size(filter(toks, w -> w = '{t}')) as bigint)")
            .alias(f"tf{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    st = per.agg(
        F.sum("dl").cast("bigint").alias("t_tok"),
        F.count("*").cast("bigint").alias("n_docs"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("bigint"))
            .cast("bigint")
            .alias(f"df{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    wide = per.crossJoin(F.broadcast(st))

    def contrib(i: int):
        return F.expr(
            f"cast(floor(cast(22 * t_tok * tf{i}"
            f" * (2 * n_docs - 2 * df{i} + 1) as double)"
            f" / cast((2 * df{i} + 1) * (10 * t_tok * tf{i}"
            f" + 3 * t_tok + 9 * dl * n_docs) as double)"
            " * 1000000.0) as bigint)"
        )

    scored = wide.withColumn(
        "score_ppm", contrib(0) + contrib(1) + contrib(2)
    ).filter(F.col("score_ppm") > 0)
    for i in range(len(BM25_TERMS)):
        # impact-ordered postings: rank by the term's SCORE
        # contribution (dl-normalized), not raw tf — under tf ties a
        # tf ordering is arbitrary and the cap keeps the wrong docs
        scored = scored.withColumn(f"c{i}", contrib(i))
        w = Window.orderBy(F.desc(f"c{i}"), F.asc("doc_id"))
        scored = scored.withColumn(f"r{i}", F.row_number().over(w))
    capped_col = None
    for i in range(len(BM25_TERMS)):
        term = F.when(F.col(f"r{i}") <= PCAP_N, F.col(f"c{i}")).otherwise(
            F.lit(0)
        )
        capped_col = term if capped_col is None else capped_col + term
    capped = scored.withColumn("capped_ppm", capped_col).select(
        "doc_id", "score_ppm", "capped_ppm"
    ).transform(materialize)
    wf = Window.orderBy(F.desc("score_ppm"), F.asc("doc_id"))
    wc = Window.orderBy(F.desc("capped_ppm"), F.asc("doc_id"))
    ftop = capped.withColumn("rn", F.row_number().over(wf)).filter(
        F.col("rn") <= BM25_TOP_K
    )
    ctop = capped.withColumn("rn", F.row_number().over(wc)).filter(
        F.col("rn") <= BM25_TOP_K
    )
    n_cand = capped.agg(
        F.count("*").cast("bigint").alias("n_candidates")
    )
    overlap = (
        ftop.select("doc_id")
        .join(ctop.select("doc_id"), "doc_id")
        .agg(F.count("*").alias("ov"))
        .crossJoin(F.broadcast(n_cand))
        .select(
            F.expr(
                f"cast(ov * 1000000 div least({BM25_TOP_K},"
                " n_candidates) as bigint)"
            ).alias("overlap_ppm")
        )
    )
    t1 = (
        ftop.filter("rn = 1")
        .select(F.col("doc_id").alias("fd"))
        .crossJoin(ctop.filter("rn = 1").select(F.col("doc_id").alias("cd")))
        .select(
            F.when(F.col("fd") == F.col("cd"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("top1_match")
        )
    )
    return (
        n_cand.crossJoin(F.broadcast(overlap))
        .crossJoin(F.broadcast(t1))
        .select(
            F.lit(BM25_TOP_K).cast("bigint").alias("k"),
            "n_candidates",
            "overlap_ppm",
            "top1_match",
        )
    )


# ---------------------------------------------------------------------------
# q229 — QC: declared-language vs langid confusion matrix
# ---------------------------------------------------------------------------


@query(
    "q229_langid_confusion",
    f"""
    WITH p AS (
      SELECT lang AS declared,
             {textstats.langid_sql('text')} AS predicted
      FROM documents
    ),
    cell AS (
      SELECT declared, predicted, COUNT(*) AS n FROM p GROUP BY 1, 2
    ),
    tot AS (SELECT declared, SUM(n) AS t FROM cell GROUP BY 1)
    SELECT cell.declared, cell.predicted,
           CAST(n AS BIGINT) AS n_docs,
           CAST(n::HUGEINT * 1000000 // t AS BIGINT) AS row_share_ppm,
           CAST(CASE WHEN cell.declared = cell.predicted
                     THEN 1 ELSE 0 END AS BIGINT) AS is_agree
    FROM cell JOIN tot ON tot.declared = cell.declared
    """,
)
def q229(spark, sf_dir):
    """The label-trust audit: cross-tabulate each document's DECLARED
    language column against the content-based detector (q16's
    langid), with row-normalized shares. The diagonal is labeling
    accuracy; a hot off-diagonal cell ('declared de, detected en') is
    a mislabeled ingest feed — the per-corpus summary q200's
    half-split detector refines per document. 'unknown' predictions
    surface as their own column of the matrix rather than vanishing.

    Spark shape: one codegen map pass (langid is JVM regexp
    counters), ONE (declared, predicted)-keyed hash aggregate
    (|langs|² cells), row totals broadcast back. At 10^12 docs: one
    scan, one tiny exchange."""
    d = load(spark, sf_dir, "documents")
    p = d.select(
        F.col("lang").alias("declared"),
        textstats.langid_col(F.col("text")).alias("predicted"),
    )
    cell = p.groupBy("declared", "predicted").agg(
        F.count("*").alias("n")
    )
    tot = cell.groupBy("declared").agg(F.sum("n").alias("t"))
    return cell.join(F.broadcast(tot), "declared").select(
        "declared",
        "predicted",
        F.col("n").cast("bigint").alias("n_docs"),
        F.expr(
            "cast(cast(n as decimal(38,0)) * 1000000 div t as bigint)"
        ).alias("row_share_ppm"),
        F.when(F.col("declared") == F.col("predicted"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_agree"),
    )


# ---------------------------------------------------------------------------
# q230 — interleaved repair: span offset rebase (canonical positions)
# ---------------------------------------------------------------------------


@query(
    "q230_offset_rebase",
    """
    WITH sp AS (
      SELECT doc_id,
             list_transform(range(2 + doc_id % 5), i -> struct_pack(
               kind := CASE WHEN (doc_id + i) % 3 = 0
                            THEN 'image' ELSE 'text' END,
               ln := 5 + (doc_id * 3 + i * 11) % 20,
               off := CAST(i * 40
                 + CASE WHEN doc_id % 4 = 0 AND i = 1 THEN -39
                        ELSE 0 END AS BIGINT)))
               AS spans
      FROM documents
    ),
    fixed AS (
      SELECT doc_id, spans,
             list_transform(range(len(spans)), j -> struct_pack(
               kind := spans[j + 1].kind,
               ln := spans[j + 1].ln,
               off := CAST(COALESCE(list_sum(list_transform(
                 list_slice(spans, 1, j), s -> s.ln)), 0) AS BIGINT)))
               AS rebased
      FROM sp
    )
    SELECT doc_id,
           CAST(len(spans) AS BIGINT) AS n_spans,
           CAST(len(list_filter(range(len(spans) - 1),
                j -> spans[j + 2].off
                     < spans[j + 1].off + spans[j + 1].ln))
                AS BIGINT) AS n_bad_offsets,
           CAST(rebased[len(rebased)].off
                + rebased[len(rebased)].ln AS BIGINT) AS doc_len,
           CAST(CASE WHEN len(list_filter(range(len(rebased) - 1),
                  j -> rebased[j + 2].off
                       <> rebased[j + 1].off + rebased[j + 1].ln))
                  = 0 THEN 1 ELSE 0 END AS BIGINT) AS rebased_ok
    FROM fixed
    """,
)
def q230(spark, sf_dir):
    """Span-offset REPAIR (the transform behind q54's integrity
    audit): re-base every document's span offsets to canonical
    cumulative positions (offset_j = Σ len_<j) so downstream
    reassembly (B8) and slicing trust them. The fixture plants
    overlapping offsets on the doc_id % 4 cohort (span 1 collides
    into span 0 — the double-extraction bug class q113 hunts); the
    audit reports violations BEFORE the repair and proves the
    rebased sequence is gap-free and overlap-free for every doc.

    Spark shape: detection and repair are entirely IN-ROW — the
    rebased offsets come from a prefix-sum over the span array
    (aggregate over slice, never a window over exploded rows, q00's
    rule) — and the output is per-doc, map-only, zero shuffles."""
    d = load(spark, sf_dir, "documents")
    sp = d.select(
        "doc_id",
        F.expr(
            "transform(sequence(0, 1 + doc_id % 5), i -> struct("
            " case when (doc_id + i) % 3 = 0 then 'image' else 'text'"
            " end as kind,"
            " 5 + (doc_id * 3 + i * 11) % 20 as ln,"
            " cast(i * 40 + case when doc_id % 4 = 0 and i = 1"
            " then -39 else 0 end as bigint) as off))"
        ).alias("spans"),
    )
    fixed = sp.select(
        "doc_id",
        "spans",
        F.expr(
            "transform(sequence(1, size(spans)), j -> struct("
            " element_at(spans, j).kind as kind,"
            " element_at(spans, j).ln as ln,"
            " cast(coalesce(aggregate(slice(spans, 1, j - 1),"
            " 0L, (a, s) -> a + s.ln), 0) as bigint) as off))"
        ).alias("rebased"),
    )
    return fixed.select(
        "doc_id",
        F.expr("cast(size(spans) as bigint)").alias("n_spans"),
        F.expr(
            "cast(size(filter(sequence(1, size(spans) - 1),"
            " j -> element_at(spans, j + 1).off"
            " < element_at(spans, j).off + element_at(spans, j).ln))"
            " as bigint)"
        ).alias("n_bad_offsets"),
        F.expr(
            "cast(element_at(rebased, size(rebased)).off"
            " + element_at(rebased, size(rebased)).ln as bigint)"
        ).alias("doc_len"),
        F.expr(
            "cast(case when size(filter(sequence(1, size(rebased) - 1),"
            " j -> element_at(rebased, j + 1).off"
            " != element_at(rebased, j).off"
            " + element_at(rebased, j).ln)) = 0 then 1 else 0 end"
            " as bigint)"
        ).alias("rebased_ok"),
    )


# ---------------------------------------------------------------------------
# q231 — governance: order-insensitive content checksum per source
# ---------------------------------------------------------------------------


@query(
    "q231_content_checksum",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(bit_xor(('0x' || substr(md5(
                 CAST(doc_id AS VARCHAR) || ':' || text), 1, 12))::BIGINT)
                AS BIGINT) AS xor_fp,
           CAST(SUM(('0x' || substr(md5(
                 CAST(doc_id AS VARCHAR) || ':' || text), 1, 12))::BIGINT)
                % 9007199254740881 AS BIGINT) AS sum_fp
    FROM documents GROUP BY source
    """,
)
def q231(spark, sf_dir):
    """An O(1)-comparable content fingerprint per source: XOR and
    modular SUM of per-row (doc_id, text) hashes, plus counts — the
    cheap proof that two snapshots/replicas/migrations hold the SAME
    rows without sorting or diffing anything (the per-source form of
    the scaling bench's cross-level output hash). XOR alone is
    fooled by a row repeated twice cancelling out; carrying the
    modular sum as a second independent combiner closes that hole
    (a doubled row changes sum_fp). Commutative combiners ⇒ identical
    across any partitioning and cluster size.

    Spark shape: pure map pass (md5 + prefix int) + ONE sources-
    sized aggregate where XOR and SUM combine map-side. At 10^12
    docs: one scan, one tiny exchange, and snapshot comparison
    becomes a |sources|-row table diff."""
    d = load(spark, sf_dir, "documents")
    h = F.expr(
        "cast(conv(substring(md5(concat(cast(doc_id as string), ':',"
        " text)), 1, 12), 16, 10) as bigint)"
    )
    return d.select("source", "n_chars", h.alias("h")).groupBy(
        "source"
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.expr("cast(bit_xor(h) as bigint)").alias("xor_fp"),
        # widened before the mod: at 10^12 rows a bigint sum of
        # 48-bit hashes overflows int64 (DuckDB widens to HUGEINT
        # automatically; Spark must be told)
        F.expr(
            "cast(sum(cast(h as decimal(38,0))) % 9007199254740881"
            " as bigint)"
        ).alias("sum_fp"),
    )


# ---------------------------------------------------------------------------
# q232 — curation: source admission scorecard (composite gate)
# ---------------------------------------------------------------------------

# Gate thresholds (ppm / e4 units; a real pipeline tunes these per run)
SC_MIN_TTR_PPM = 50_000
SC_MIN_QUALITY_E4 = 4_000
SC_MAX_DUP_PPM = 100_000
SC_MAX_PII_PPM = 50_000


@query(
    "q232_source_scorecard",
    f"""
    WITH scan AS (
      SELECT source,
             COUNT(*) AS n_docs,
             SUM({textstats.quality_score_e4_sql('text')}) AS q_sum,
             SUM(CASE WHEN {pii.pii_total_sql('text')} > 0
                      THEN 1 ELSE 0 END) AS pii_docs
      FROM documents GROUP BY source
    ),
    voc AS (
      SELECT source, tok, COUNT(*) AS c FROM (
        SELECT source,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents) GROUP BY 1, 2
    ),
    rich AS (
      SELECT source,
             CAST(COUNT(*)::HUGEINT * 1000000 // SUM(c) AS BIGINT)
               AS ttr_ppm
      FROM voc GROUP BY source
    ),
    dup AS (
      SELECT source,
             CAST(SUM(g - 1)::HUGEINT * 1000000 // SUM(g) AS BIGINT)
               AS dup_ppm
      FROM (SELECT source, COUNT(*) AS g FROM documents
            GROUP BY source, {textstats.fingerprint_sql('text')})
      GROUP BY source
    )
    SELECT scan.source,
           CAST(scan.n_docs AS BIGINT) AS n_docs,
           CAST(scan.q_sum // scan.n_docs AS BIGINT) AS mean_quality_e4,
           rich.ttr_ppm,
           dup.dup_ppm,
           CAST(scan.pii_docs::HUGEINT * 1000000 // scan.n_docs
                AS BIGINT) AS pii_ppm,
           CAST(CASE WHEN scan.q_sum // scan.n_docs
                          >= {SC_MIN_QUALITY_E4}
                      AND rich.ttr_ppm >= {SC_MIN_TTR_PPM}
                      AND dup.dup_ppm <= {SC_MAX_DUP_PPM}
                      AND scan.pii_docs * 1000000
                          <= {SC_MAX_PII_PPM}::HUGEINT * scan.n_docs
                     THEN 1 ELSE 0 END AS BIGINT) AS admitted
    FROM scan
    JOIN rich ON rich.source = scan.source
    JOIN dup ON dup.source = scan.source
    """,
)
def q232(spark, sf_dir):
    """The source-onboarding scorecard: one row per source with the
    four admission metrics — mean quality, lexical richness (TTR),
    within-source exact-dup rate, PII incidence — and the composite
    admit/reject verdict against explicit thresholds. This is the
    artifact a curation review signs off before a new feed enters
    the mix; each metric is the one-number summary of a full audit
    that exists elsewhere (q56/q219/q17/q52) and the thresholds are
    named constants the run report can quote.

    Spark shape: three corpus passes by necessity (in-row scan
    metrics; the vocab-grain agg; the fingerprint agg — same scans
    q217's datasheet pays), each collapsing to a sources-sized
    relation joined by broadcast. All-integer gate arithmetic
    (pii ppm compared cross-multiplied so no division ambiguity)."""
    d = load(spark, sf_dir, "documents")
    scan = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(textstats.quality_score_e4_col(F.col("text"))).alias(
            "q_sum"
        ),
        F.sum(
            F.when(pii.pii_total_col(F.col("text")) > 0, 1).otherwise(0)
        ).alias("pii_docs"),
    )
    voc = (
        d.select(
            "source",
            F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    rich = voc.groupBy("source").agg(
        F.expr(
            "cast(cast(count(*) as decimal(38,0)) * 1000000 div sum(c)"
            " as bigint)"
        ).alias("ttr_ppm")
    )
    dup = (
        d.groupBy(
            "source", textstats.fingerprint_col(F.col("text")).alias("fp")
        )
        .agg(F.count("*").alias("g"))
        .groupBy("source")
        .agg(
            F.expr(
                "cast(cast(sum(g - 1) as decimal(38,0)) * 1000000"
                " div sum(g) as bigint)"
            ).alias("dup_ppm")
        )
    )
    j = scan.join(F.broadcast(rich), "source").join(
        F.broadcast(dup), "source"
    )
    return j.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.expr("cast(q_sum div n_docs as bigint)").alias(
            "mean_quality_e4"
        ),
        "ttr_ppm",
        "dup_ppm",
        F.expr(
            "cast(cast(pii_docs as decimal(38,0)) * 1000000 div n_docs"
            " as bigint)"
        ).alias("pii_ppm"),
        F.expr(
            f"cast(case when q_sum div n_docs >= {SC_MIN_QUALITY_E4}"
            f" and ttr_ppm >= {SC_MIN_TTR_PPM}"
            f" and dup_ppm <= {SC_MAX_DUP_PPM}"
            f" and cast(pii_docs as decimal(38,0)) * 1000000"
            f" <= cast({SC_MAX_PII_PPM} as decimal(38,0)) * n_docs"
            " then 1 else 0 end as bigint)"
        ).alias("admitted"),
    )


# =====================================================================
# v2 structured templates (reference README.md:241-274). The v2
# template table — general / invoice / delivery-notes /
# document-intelligence — is a README-only contract (no reference code
# implements it): `invoice` is q91; these two close the class.
# =====================================================================

# Deterministic delivery-note fixture, constructed identically by both
# engines from doc_id alone (the q91/q54 pattern). The receiver CASE and
# the per-position quantity/article arithmetic are dialect-shared; only
# the cast target name and list-builder spellings differ.
_DN_EMPF_CASE = (
    "CASE doc_id % 4 WHEN 0 THEN 'Müller GmbH' WHEN 1 THEN 'Schmidt AG'"
    " WHEN 2 THEN 'Weber KG' ELSE 'Fischer & Söhne KG' END"
)
_DN_QTY = "1 + (doc_id + i) % 9"
_DN_ART = "100 + (doc_id * i) % 50"


def _dn_text_spark() -> str:
    return (
        "'Lieferschein Nr. LS-2024-' || cast(doc_id as string)"
        f" || ' vom ' || {_inv_date('string')}"
        f" || ' Empfaenger: Firma ' || {_DN_EMPF_CASE}"
        " || ' Positionen: ' || array_join(transform("
        "sequence(1, 1 + doc_id % 4),"
        f" i -> cast({_DN_QTY} as string) || 'x Artikel A-'"
        f" || cast({_DN_ART} as string)), '; ')"
    )


def _dn_text_duck() -> str:
    return (
        "'Lieferschein Nr. LS-2024-' || cast(doc_id as varchar)"
        f" || ' vom ' || {_inv_date('varchar')}"
        f" || ' Empfaenger: Firma ' || {_DN_EMPF_CASE}"
        " || ' Positionen: ' || array_to_string(list_transform("
        "range(1, 2 + doc_id % 4),"
        f" i -> cast({_DN_QTY} as varchar) || 'x Artikel A-'"
        f" || cast({_DN_ART} as varchar)), '; ')"
    )


# Field patterns in the RE2 ∩ Java ∩ Python dialect (functions/pii.py
# conventions: no lookarounds, no \b). Quantities are single-token
# '<n>x Artikel' hits; the date pattern reuses q91's and matches first
# (article numbers never form dd.mm.yyyy shapes). ONE spelling, shared
# with analyze_v2 (functions/templates.py).
_DN_NO_PAT = templates.DN_NO_PAT
_DN_EMPF_PAT = templates.DN_EMPF_PAT
_DN_POS_PAT = templates.DN_POS_PAT


@query(
    "q233_delivery_notes",
    f"""
    WITH dn AS (
      SELECT doc_id, {_dn_text_duck()} AS txt FROM documents
    )
    SELECT doc_id,
           regexp_extract(txt, '{_DN_NO_PAT}', 0) AS beleg_no,
           regexp_extract(txt, '{_INV_DATE_PAT}', 3) || '-' ||
           regexp_extract(txt, '{_INV_DATE_PAT}', 2) || '-' ||
           regexp_extract(txt, '{_INV_DATE_PAT}', 1) AS beleg_date,
           regexp_extract(txt, '{_DN_EMPF_PAT}', 1) AS empfaenger,
           CAST(len(regexp_extract_all(txt, '{_DN_POS_PAT}', 1))
                AS BIGINT) AS n_positionen,
           CAST(list_sum(list_transform(
                  regexp_extract_all(txt, '{_DN_POS_PAT}', 1),
                  x -> CAST(x AS BIGINT))) AS BIGINT) AS qty_total
    FROM dn
    """,
)
def q233(spark, sf_dir):
    """German delivery-note structured extraction — the reference v2
    `delivery-notes` template (README.md:241-252: belegnummer,
    belegdatum, empfaenger, positionen) as a relational operator over
    a deterministic dual-engine fixture (q91's pattern): pull the
    Beleg number, ISO-normalized date, receiver, and the line-item
    list's count and total quantity out of German delivery-note text.
    The positionen list is extracted with regexp_extract_all and
    folded IN-ROW (higher-order aggregate over the match array), so
    the repeated-group field the reference returns as JSON becomes two
    exact integer columns without any explode/shuffle.

    Spark shape: strictly map-only — fixture construction, the four
    regexp extracts, and the in-row fold are one WholeStageCodegen
    pass, zero shuffles, zero Python; a single scan at 10^12 docs."""
    d = load(spark, sf_dir, "documents")
    dn = d.select("doc_id", F.expr(_dn_text_spark()).alias("txt"))
    return dn.select("doc_id", *templates.delivery_note_fields("txt"))


_Q234_GOLDEN = _golden_path("q234_blocks.parquet")


@query(
    "q234_document_intelligence",
    f"""
    SELECT doc_id, "order", page, block_rank, x0, y0, x1, y1, text
    FROM '{_Q234_GOLDEN}'
    """,
)
def q234(spark, sf_dir):
    """The reference v2 `document-intelligence` template (README.md:
    241-252: 'Bounding box extraction — field coordinates for visual
    annotation') through the full distributed pipeline: one row per
    layout block with page, bbox, and XY-cut reading rank, over the
    SAME deterministic 400-doc corpus as q32 and value-checked against
    the committed single-node golden parquet (q32's oracle
    discipline). The XY-cut kernel computed every coordinate all along
    (kernels/xycut.py reading_order) and discarded them after the
    reading-order sort; this surfaces them as output columns, so text
    (q32) and coordinates (here) join on (doc_id, order).

    Spark shape: identical to the flagship extract — in-row span
    ordering (zero shuffles), one mapInPandas block-emit stage, salt
    repartition for heavy multi-page documents."""
    from .operators.docintel import document_intelligence
    from .synth import synth_docs_distributed

    docs = synth_docs_distributed(spark, 400, seed=42, n_partitions=8)
    return document_intelligence(docs, salt_partitions=16)


# ---------------------------------------------------------------------------
# q235 — v2 `general` template: auto-detect + common fields (closes the
# reference's v2 template table: general / invoice(q91) /
# delivery-notes(q233) / document-intelligence(q234))
# ---------------------------------------------------------------------------

# Letter fixture (the third document class the detector must separate).
_LT_IBAN = (
    "'DE' || lpad(cast((doc_id * 7) % 100 as {s}), 2, '0')"
    " || lpad(cast((doc_id * 37) % 100000000 as {s}), 8, '0')"
    " || lpad(cast((doc_id * 91) % 10000000000 as {s}), 10, '0')"
)


def _lt_text(s: str) -> str:
    iban = _LT_IBAN.format(s=s)
    return (
        "'Schreiben von Absender: Firma ' || "
        + _DN_EMPF_CASE
        + f" || ' vom ' || {_inv_date(s)}"
        + f" || ' IBAN: ' || {iban}"
        + " || ' Betreff: Vertragsunterlagen'"
    )


def _gen_text(s: str, amt: str, dn: str) -> str:
    return (
        f"CASE doc_id % 3 WHEN 0 THEN {_inv_text(s, amt)}"
        f" WHEN 1 THEN {dn} ELSE {_lt_text(s)} END"
    )


# Detection looks at the TEXT (never at doc_id): the opening token
# decides the class, exactly how the reference's auto-detect template
# is documented to behave (README.md:249 'Auto-detect document type').
# ONE spelling, shared with analyze_v2 (functions/templates.py).
_GEN_DETECT = templates.GEN_DETECT_SQL.format(txt="txt")
_GEN_SENDER = templates.GEN_SENDER_SQL.format(txt="txt")


@query(
    "q235_general_template",
    f"""
    WITH g AS (
      SELECT doc_id,
             {_gen_text('varchar', _INV_AMT_DUCK, _dn_text_duck())} AS txt
      FROM documents
    )
    SELECT doc_id,
           {_GEN_DETECT} AS document_type,
           {_GEN_SENDER} AS sender,
           CASE WHEN txt LIKE 'Rechnung %' THEN
             CAST(replace(regexp_extract(txt, '{_INV_AMT_PAT}', 1), '.', '')
                  AS BIGINT) * 100
               + CAST(regexp_extract(txt, '{_INV_AMT_PAT}', 2) AS BIGINT)
           ELSE NULL END AS amount_cents,
           regexp_extract(txt, 'DE[0-9]{{20}}', 0) AS iban,
           txt AS full_text
    FROM g
    """,
)
def q235(spark, sf_dir):
    """The reference v2 `general` template (README.md:249: auto-detect
    document type; fields document_type / sender / amounts / iban /
    full_text) as a relational operator, completing the v2 template
    table (invoice=q91, delivery-notes=q233,
    document-intelligence=q234). A three-class deterministic fixture
    (invoice / delivery note / letter, all built by both engines from
    doc_id) is classified by its TEXT — the opening token, never the
    construction arm — then each class's fields are extracted with the
    per-class regexes: delivery-note receiver, letter sender, invoice
    total in exact cents, and any German IBAN anywhere in the text.

    Spark shape: strictly map-only — construction, detection, and all
    extraction are one WholeStageCodegen pass, zero shuffles, zero
    Python; a single scan at 10^12 docs."""
    d = load(spark, sf_dir, "documents")
    g = d.select(
        "doc_id",
        F.expr(
            _gen_text("string", _INV_AMT_SPARK, _dn_text_spark())
        ).alias("txt"),
    )
    return g.select("doc_id", *templates.general_fields("txt"))


# =====================================================================
# q236 — INDEPENDENT cross-check of the B5 boilerplate kernel: the
# block rule re-derived in pure SQL (round-4 VERDICT item 7)
# =====================================================================
#
# q32's oracle is a golden parquet produced by the SAME pure kernels
# run single-node — it proves distributed == single-node, not kernel
# truth. This query closes that circularity for the HTML boilerplate
# kernel: a deterministic serialized DOM-node wire is planted from the
# documents table in BOTH engines (q103's planting pattern), the Spark
# side runs the REAL mapInPandas kernel through the full distributed
# extraction pipeline (parse → block scoring → content join →
# normalize), and the DuckDB side re-derives the Boilerpipe block rule
# from scratch in relational algebra (per-block text/link mass,
# first-node tag, text_len >= MIN_TEXT_LEN, link density < 1/3, ' '
# node join, '\n' block join) with none of the kernel code involved.
# The wire exercises every arm of the rule: a nav block (boiler tag),
# the article block (content; every third doc also carries an inline
# <a> node inside it), a short block (< MIN_TEXT_LEN), a link-farm
# block (density > 1/3), and a footer block.

_B_US, _B_RS = "\x1f", "\x1e"
_B_HEAD = (
    f"0{_B_US}nav{_B_US}0{_B_US}"
    f"{_B_RS}1{_B_US}a{_B_US}0{_B_US}Start"
    f"{_B_RS}2{_B_US}a{_B_US}0{_B_US}Impressum"
    f"{_B_RS}3{_B_US}p{_B_US}1{_B_US}"
)
_B_OPT = f"{_B_RS}4{_B_US}a{_B_US}1{_B_US}Mehr dazu hier"
_B_TAIL = (
    f"{_B_RS}5{_B_US}p{_B_US}2{_B_US}Kurz."
    f"{_B_RS}6{_B_US}p{_B_US}3{_B_US}Relevante Angebote:"
    f"{_B_RS}7{_B_US}a{_B_US}3{_B_US}Alle Produkte im Katalog ansehen und sparen"
    f"{_B_RS}8{_B_US}footer{_B_US}4{_B_US}Fußzeile"
    f"{_B_RS}9{_B_US}a{_B_US}4{_B_US}AGB"
)


@query(
    "q236_boilerplate_rule_audit",
    f"""
    WITH wire AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id,
             '{_B_HEAD}' ||
             translate(text, chr(30) || chr(31), '') ||
             CASE WHEN doc_id % 3 = 0 THEN '{_B_OPT}' ELSE '' END ||
             '{_B_TAIL}' AS w
      FROM documents
    ),
    rec AS (
      SELECT doc_id, unnest(string_split(w, '{_B_RS}')) AS r FROM wire
    ),
    node AS (
      SELECT doc_id,
             CAST(string_split(r, '{_B_US}')[1] AS BIGINT) AS node_id,
             string_split(r, '{_B_US}')[2] AS tag,
             CAST(string_split(r, '{_B_US}')[3] AS BIGINT) AS block_id,
             string_split(r, '{_B_US}')[4] AS txt
      FROM rec WHERE length(r) > 0
    ),
    blk AS (
      SELECT doc_id, block_id,
             SUM(length(txt)) AS text_len,
             SUM(CASE WHEN tag = 'a' THEN length(txt) ELSE 0 END)
               AS link_len,
             MIN_BY(tag, node_id) AS block_tag,
             string_agg(CASE WHEN txt <> '' THEN txt END, ' '
                        ORDER BY node_id) AS btext
      FROM node GROUP BY 1, 2
    ),
    content AS (
      SELECT doc_id, block_id, btext FROM blk
      WHERE block_tag NOT IN ('nav','footer','header','aside',
                              'script','style','form','button')
        AND text_len >= 30
        AND link_len / (CASE WHEN text_len > 0 THEN text_len ELSE 1 END)
              < 1.0/3.0
    ),
    agg AS (
      SELECT doc_id, string_agg(btext, chr(10) ORDER BY block_id) AS raw
      FROM content GROUP BY 1
    )
    SELECT w.doc_id,
           {german.normalize_sql("coalesce(a.raw, '')")} AS main_text
    FROM wire w LEFT JOIN agg a ON a.doc_id = w.doc_id
    """,
)
def q236(spark, sf_dir):
    """The HTML-boilerplate block rule (kernels/boilerplate.py,
    SURVEY B5) hash-checked against an INDEPENDENT relational
    re-derivation: the Spark side is the real distributed pipeline
    (mapInPandas parse + pandas block scoring + German normalize —
    none of it shared with the oracle), the oracle is the same block
    algebra written directly in SQL over the identically planted
    wire. A value mismatch on any document means the kernel's rule
    diverged from its specification — the cross-check q32's
    golden-parquet oracle cannot provide (reference behavior:
    document → main text, `german_ocr/ollama_backend.py:103-150`,
    re-specified as the deterministic Boilerpipe-style classifier).

    Spark shape: identical to q00/q32 — the ONE Arrow stage is the
    extraction kernel itself (the design's hot path), zero shuffles,
    map-only at any corpus size."""
    from .operators.extract import extract_pipeline

    d = load(spark, sf_dir, "documents")
    # The planted wire is only symmetric if corpus text cannot inject
    # record/field separators into it — strip \x1e/\x1f identically
    # in both engines (raw OCR text plausibly carries control chars;
    # an unsanitized char would corrupt the Spark-side node table
    # while the SQL oracle, which never parses the wire, stays clean
    # — a false kernel-bug report).
    clean = F.translate("text", _B_RS + _B_US, "")
    wire = F.concat(
        F.lit(_B_HEAD),
        clean,
        F.when(F.col("doc_id") % 3 == 0, F.lit(_B_OPT)).otherwise(
            F.lit("")
        ),
        F.lit(_B_TAIL),
    )
    docs = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("html").alias("kind"),
                wire.alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    return extract_pipeline(docs).select(
        "doc_id", F.col("text").alias("main_text")
    )


# =====================================================================
# q237 — INDEPENDENT cross-check of the B6 XY-cut PDF kernel: the
# reading order of a planted two-column layout as ground truth
# =====================================================================
#
# q236's twin for the PDF side: a deterministic serialized layout-block
# table is planted from the documents table in BOTH engines, with the
# records deliberately SCRAMBLED in the wire (R2, footer, L1, header,
# R1, L2) so only geometry can order them. The layout is the canonical
# XY-cut discriminator: header spanning both columns, a two-column
# body whose inter-column vertical gap (20 units) is WIDER than its
# inter-paragraph horizontal gap (10 units), and a footer. Correct
# XY-cut reads header, left column top-to-bottom, right column, footer;
# the naive (y, x) sort this kernel exists to beat would interleave
# L1, R1, L2, R2 — so the oracle (the known-correct order written out
# literally, then German-normalized) distinguishes the real recursion
# from the fallback. The left column also plants a 'Liefer-' / 'ung'
# hyphen joint across the block boundary, hash-checking the B6→B7
# interplay (de-hyphenation at '-\n') end to end.

_B_PDF_HEAD = f"1{_B_US}50.0{_B_US}20.0{_B_US}550.0{_B_US}35.0{_B_US}Seite 1"
_B_PDF_L1 = f"1{_B_US}50.0{_B_US}60.0{_B_US}290.0{_B_US}100.0{_B_US}Liefer-"
_B_PDF_L2 = (
    f"1{_B_US}50.0{_B_US}110.0{_B_US}290.0{_B_US}150.0{_B_US}ung am Montag"
)
_B_PDF_R1 = f"1{_B_US}310.0{_B_US}60.0{_B_US}550.0{_B_US}100.0{_B_US}"
_B_PDF_R2 = f"1{_B_US}310.0{_B_US}110.0{_B_US}550.0{_B_US}150.0{_B_US}"
_B_PDF_FOOT = (
    f"1{_B_US}50.0{_B_US}780.0{_B_US}550.0{_B_US}795.0{_B_US}Fußzeile"
)


@query(
    "q237_layout_rule_audit",
    f"""
    WITH clean AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id,
             translate(text, chr(30) || chr(31), '') AS t
      FROM documents
    ),
    expected AS (
      SELECT doc_id,
             'Seite 1' || chr(10) || 'Liefer-' || chr(10) ||
             'ung am Montag' || chr(10) ||
             substring(t, 1, 40) || chr(10) ||
             substring(t, 41, 40) || chr(10) || 'Fußzeile' AS raw
      FROM clean
    )
    SELECT doc_id,
           {german.normalize_sql("coalesce(raw, '')")} AS main_text
    FROM expected
    """,
)
def q237(spark, sf_dir):
    """The XY-cut reading order (kernels/xycut.py, SURVEY B6)
    hash-checked against ground truth: the Spark side parses a
    SCRAMBLED planted block table and must recover the correct
    two-column reading order through the real recursive-cut kernel
    (mapInPandas parse → XY-cut → '\\n' join → German normalize,
    including the '-\\n' de-hyphenation joint planted across the left
    column's blocks); the oracle writes the known-correct order
    directly in SQL and applies the same normalize algebra. A naive
    (y, x) sort — the failure mode XY-cut exists to prevent —
    produces interleaved columns and a hash mismatch (reference
    behavior: per-page PDF reading order,
    ``german_ocr/cloud_client.py:100-102``, re-specified as the
    deterministic XY-cut classifier).

    Spark shape: identical to q00/q32/q236 — ONE Arrow stage (the
    extraction kernel), zero shuffles, map-only at any corpus size."""
    from .operators.extract import extract_pipeline

    d = load(spark, sf_dir, "documents")
    # separator sanitization BEFORE the substrings — same order as the
    # oracle's clean CTE (q236's symmetry rule: corpus text must not
    # inject record/field separators into the planted wire)
    clean = F.translate("text", _B_RS + _B_US, "")
    # records deliberately scrambled: R2, footer, L1, header, R1, L2
    wire = F.concat(
        F.lit(_B_PDF_R2),
        F.substring(clean, 41, 40),
        F.lit(_B_RS + _B_PDF_FOOT),
        F.lit(_B_RS + _B_PDF_L1),
        F.lit(_B_RS + _B_PDF_HEAD),
        F.lit(_B_RS + _B_PDF_R1),
        F.substring(clean, 1, 40),
        F.lit(_B_RS + _B_PDF_L2),
    )
    docs = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("pdf").alias("kind"),
                wire.alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    return extract_pipeline(docs).select(
        "doc_id", F.col("text").alias("main_text")
    )


# =====================================================================
# q238 — INDEPENDENT cross-check of the multimodal decode kernels: the
# fake-codec metadata re-derived in pure SQL (round-4 VERDICT item 7,
# third leg after q236/q237)
# =====================================================================
#
# q30's oracle is a golden parquet produced by the SAME pure kernels
# run single-node — it proves distributed == single-node, not kernel
# truth. This query closes that circularity for the three multimodal
# decode kernels (operators/multimodal.py): FIMG/FAUD/FVID payloads
# are planted with every byte derived from doc_id by arithmetic BOTH
# engines can compute (pixel j of doc k is (j*31 + 17k) mod 256,
# sample j is ((j*97 + 13k) mod 65536) - 32768), the Spark side must
# recover width/height/mean/RMS/duration/frame means through the REAL
# header parsing + numpy decode inside mapInPandas, and the DuckDB
# side computes the same quantities directly from the arithmetic via
# lateral unnest — no codec, no golden file, no shared code. Every
# division is a single IEEE op on exact-integer operands (pixel sums
# < 2^16, squared-sample sums < 2^38 — both far under 2^53), so the
# doubles match bitwise under the validator's check_exact gate.

_Q238_PLANT_DDL = "doc_id string, media_ref string, content binary"


def _q238_plant(batches):
    """Fixture-planting kernel (test harness, not product path): at
    real scale media bytes arrive from object storage (B1 scan) and
    this stage does not exist, so its per-row loop is outside the
    no-per-row-Python product discipline — the kernels under test
    downstream are the vectorized product path. The header layout
    lives ONLY in the encode_fake_* helpers (multimodal.py); this
    kernel plants just the arithmetically-known payload arrays."""
    import numpy as np
    import pandas as pd

    from german_ocr_spark.operators.multimodal import (
        encode_fake_audio,
        encode_fake_image,
        encode_fake_video,
    )

    for pdf in batches:
        rows: dict[str, list] = {"doc_id": [], "media_ref": [], "content": []}
        for k in pdf["k"]:
            k = int(k)
            if k % 3 == 0:
                w, h = 3 + k % 13, 2 + k % 7
                px = (
                    (np.arange(w * h, dtype=np.int64) * 31 + 17 * k) % 256
                ).astype(np.uint8)
                buf = encode_fake_image(w, h, pixels=px)
            elif k % 3 == 1:
                rate, n = 8000 + 1000 * (k % 5), 50 + k % 100
                s = (
                    (np.arange(n, dtype=np.int64) * 97 + 13 * k) % 65536
                    - 32768
                ).astype(np.int16)
                buf = encode_fake_audio(rate, n, samples=s)
            else:
                nf, w, h = 1 + k % 6, 2 + k % 5, 2 + k % 3
                px = (
                    (np.arange(nf * w * h, dtype=np.int64) * 31 + 17 * k)
                    % 256
                ).astype(np.uint8)
                buf = encode_fake_video(nf, w, h, pixels=px)
            rows["doc_id"].append(str(k))
            rows["media_ref"].append(f"mem://{k}")
            rows["content"].append(buf)
        yield pd.DataFrame(rows)


@query(
    "q238_media_decode_audit",
    """
    WITH p AS (SELECT CAST(doc_id AS BIGINT) AS k FROM documents),
    img AS (
      SELECT k, 3 + k % 13 AS w, 2 + k % 7 AS h FROM p WHERE k % 3 = 0
    ),
    img_px AS (
      SELECT k, w, h, CAST(SUM((t.j*31 + 17*k) % 256) AS BIGINT) AS s
      FROM img, UNNEST(range(0, w*h)) AS t(j) GROUP BY 1, 2, 3
    ),
    img_row AS (
      SELECT CAST(k AS VARCHAR) AS doc_id, 'image' AS media_type,
             -1 AS frame_idx,
             CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
             -1 AS sample_rate, CAST(-1 AS BIGINT) AS duration_ms,
             CAST(12 + w*h AS BIGINT) AS n_bytes,
             CAST(s AS DOUBLE) / CAST(w*h AS DOUBLE) AS mean_px,
             CAST(-1.0 AS DOUBLE) AS rms
      FROM img_px
    ),
    aud AS (
      SELECT k, 8000 + 1000*(k % 5) AS rate, 50 + k % 100 AS n
      FROM p WHERE k % 3 = 1
    ),
    aud_sq AS (
      SELECT k, rate, n,
             CAST(SUM(((t.j*97 + 13*k) % 65536 - 32768)
                      * ((t.j*97 + 13*k) % 65536 - 32768)) AS BIGINT) AS ss
      FROM aud, UNNEST(range(0, n)) AS t(j) GROUP BY 1, 2, 3
    ),
    aud_row AS (
      SELECT CAST(k AS VARCHAR) AS doc_id, 'audio' AS media_type,
             -1 AS frame_idx, -1 AS width, -1 AS height,
             CAST(rate AS INTEGER) AS sample_rate,
             CAST((n*1000) // rate AS BIGINT) AS duration_ms,
             CAST(-1 AS BIGINT) AS n_bytes,
             CAST(-1.0 AS DOUBLE) AS mean_px,
             sqrt(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)) AS rms
      FROM aud_sq
    ),
    vid AS (
      SELECT k, 1 + k % 6 AS nf, 2 + k % 5 AS w, 2 + k % 3 AS h
      FROM p WHERE k % 3 = 2
    ),
    vid_fr AS (
      SELECT k, w, h, t.f AS f,
             CAST(SUM(((t.f*w*h + u.j)*31 + 17*k) % 256) AS BIGINT) AS s
      FROM vid, UNNEST(range(0, nf)) AS t(f),
                UNNEST(range(0, w*h)) AS u(j)
      WHERE t.f % 2 = 0 GROUP BY 1, 2, 3, 4
    ),
    vid_row AS (
      SELECT CAST(k AS VARCHAR) AS doc_id, 'video' AS media_type,
             CAST(f AS INTEGER) AS frame_idx,
             CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
             -1 AS sample_rate, CAST(-1 AS BIGINT) AS duration_ms,
             CAST(-1 AS BIGINT) AS n_bytes,
             CAST(s AS DOUBLE) / CAST(w*h AS DOUBLE) AS mean_px,
             CAST(-1.0 AS DOUBLE) AS rms
      FROM vid_fr
    )
    SELECT * FROM img_row
    UNION ALL SELECT * FROM aud_row
    UNION ALL SELECT * FROM vid_row
    """,
)
def q238(spark, sf_dir):
    """The multimodal decode kernels (operators/multimodal.py, the
    Spark re-expression of the reference's MIME-typed media handling,
    ``german_ocr/cloud_client.py:269-311`` /
    ``ollama_backend.py:98-134``) hash-checked against an INDEPENDENT
    arithmetic oracle: payload bytes are pure functions of doc_id, the
    Spark side decodes them through the real Arrow-batched kernels
    (image_meta, audio_features, frame_sample every_k=2), and the
    oracle re-computes width/height/n_bytes/mean_px, sample_rate/
    duration_ms/RMS, and per-sampled-frame means straight from the
    generating arithmetic in SQL. A header-layout, byte-order,
    truncation, or mean/RMS bug in any kernel — or a lost/duplicated
    row anywhere in the distributed plumbing — is a value-hash
    mismatch; a decode error surfaces as -1/NaN against the oracle's
    expected values. Complements q30 (golden parquet: distributed ==
    single-node) with kernel truth the way q236/q237 do for the
    HTML and PDF kernels.

    Spark shape: map-only (plant → decode), zero shuffles at any
    corpus size; the union is a no-shuffle unionByName of three
    disjoint map branches."""
    from .operators.multimodal import audio_features, frame_sample, image_meta

    d = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("k")
    )
    # push the k%3 branch split BELOW the plant stage: each branch
    # plants only its own third (one Python pass over each row total,
    # not three), and the JVM-side modulo filter reaches the scan
    media = {
        mt: d.filter(F.col("k") % 3 == r).mapInPandas(
            _q238_plant, schema=_Q238_PLANT_DDL
        )
        for r, mt in enumerate(("image", "audio", "video"))
    }
    neg1_i = F.lit(-1).cast("int")
    neg1_l = F.lit(-1).cast("long")
    # -1.0 sentinel (not NULL) for the not-applicable metric columns:
    # no driver-hash-green query has ever carried genuinely NULL
    # doubles through the gate's value-hash path, and a cross-engine
    # null-vs-NaN stringification difference there would read as a
    # phantom kernel bug — sentinels keep the audit on tested ground
    neg1_d = F.lit(-1.0).cast("double")
    img = image_meta(media["image"]).select(
        "doc_id",
        F.lit("image").alias("media_type"),
        neg1_i.alias("frame_idx"),
        "width",
        "height",
        neg1_i.alias("sample_rate"),
        neg1_l.alias("duration_ms"),
        "n_bytes",
        "mean_px",
        neg1_d.alias("rms"),
    )
    aud = audio_features(media["audio"]).select(
        "doc_id",
        F.lit("audio").alias("media_type"),
        neg1_i.alias("frame_idx"),
        neg1_i.alias("width"),
        neg1_i.alias("height"),
        "sample_rate",
        "duration_ms",
        neg1_l.alias("n_bytes"),
        neg1_d.alias("mean_px"),
        "rms",
    )
    vid = frame_sample(media["video"], every_k=2).select(
        "doc_id",
        F.lit("video").alias("media_type"),
        "frame_idx",
        "width",
        "height",
        neg1_i.alias("sample_rate"),
        neg1_l.alias("duration_ms"),
        neg1_l.alias("n_bytes"),
        "mean_px",
        neg1_d.alias("rms"),
    )
    return img.unionByName(aud).unionByName(vid)
