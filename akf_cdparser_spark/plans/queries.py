"""Query/oracle registry — the driver correctness gate.

Each entry pairs a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame``
with an ANSI/DuckDB SQL twin over the same parquet tables (pre-registered
views: region nation customer supplier part orders lineitem events
documents embeddings). Column names and value semantics match exactly —
aggregates are rounded identically on both sides, hashes are md5-derived so
both engines reproduce them bit-for-bit, timestamps are emitted as epoch
seconds (Spark session runs UTC).

Queries without an oracle (extraction over the synthetic spans corpus, LSH
ANN) return None SQL — the driver records a weaker rows-only check; their
deep validation lives in tests/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..analytics import dedup, similarity, text
from ..operators import extract as X
from .. import fixtures
from . import pinned as _pinned

EXTRACT_N_DOCS = 40
EMB_QUERY_IDS = [0, 7, 42, 99, 123]

_DOCID_SQL = "printf('%d/%04d', 1999 + (i % 7), i)"
_RANGE_SQL = f"FROM UNNEST(range(0, {EXTRACT_N_DOCS})) AS t(i)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # epoch projections (q09/q15/q19) must read NTZ timestamps as UTC to
    # match the DuckDB oracle regardless of the caller session's timezone
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# relational shell (joins / aggs / windows the frontier logic is built from)
# ---------------------------------------------------------------------------


def q01_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1999-12-31").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                 F.count("*").alias("count_order")))


Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)              AS sum_qty,
       round(sum(l_extendedprice), 2)         AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4)              AS avg_qty,
       round(avg(l_discount), 4)              AS avg_disc,
       count(*)                               AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-12-31'
GROUP BY l_returnflag, l_linestatus
"""


def q02_top_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
           .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
           .groupBy("c_custkey", "c_name")
           .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                .alias("revenue")))
    return rev.orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(10)


Q02_SQL = """
SELECT c_custkey, c_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 10
"""


def q03_order_priority(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.05)
    return (o.join(li, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("order_count")))


Q03_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
GROUP BY o_orderpriority
"""


def q04_region_rollup(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy("r_name", "n_name")
            .agg(F.count("*").alias("n_customers"),
                 F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal")))


Q04_SQL = """
SELECT r_name, n_name, count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS sum_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q05_parts_stats(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return (p.groupBy("p_brand")
            .agg(F.count("*").alias("n_parts"),
                 F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
                 F.max("p_size").alias("max_size")))


Q05_SQL = """
SELECT p_brand, count(*) AS n_parts,
       round(avg(p_retailprice), 4) AS avg_price,
       max(p_size) AS max_size
FROM part GROUP BY p_brand
"""


def q06_revenue_filter(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    f = li.filter((F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
                  & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
                  & (F.col("l_discount") >= 0.03) & (F.col("l_discount") <= 0.07)
                  & (F.col("l_quantity") < 25))
    return f.agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
                 .alias("revenue"),
                 F.count("*").alias("n_rows"))


Q06_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 25
"""


def q07_topk_orders_per_customer(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"),
                                                F.asc("o_orderkey"))
    return (o.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("o_custkey", "o_orderkey",
                    F.round("o_totalprice", 2).alias("totalprice"), "rk"))


Q07_SQL = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rk
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      FROM orders)
WHERE rk <= 3
"""


def q08_running_total(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 50 == 0)
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, 0))
    return o.select("o_custkey", "o_orderkey",
                    F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"))


Q08_SQL = """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders WHERE o_custkey % 50 = 0
"""


def q09_sessionize(spark, sf_dir):
    """E17 sessionization: a >30-min gap opens a new session."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact sub-second gap arithmetic (matches duckdb epoch() doubles);
    # session TZ is UTC so the NTZ->LTZ cast is identity
    micros = F.unix_micros(F.col("ts").cast("timestamp_ltz")) / 1e6
    gap = micros - F.lag(micros).over(w)
    flagged = e.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"),
                 F.min(F.unix_timestamp("ts")).alias("t_start"),
                 F.max(F.unix_timestamp("ts")).alias("t_end")))


Q09_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, event_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
       CAST(floor(min(epoch(ts))) AS BIGINT) AS t_start,
       CAST(floor(max(epoch(ts))) AS BIGINT) AS t_end
FROM sess GROUP BY user_id, session_id
"""


def q10_lag_delta(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select("user_id", "event_id",
                    F.round(F.col("value") - F.lag("value").over(w), 2)
                    .alias("delta"))


Q10_SQL = """
SELECT user_id, event_id,
       round(value - lag(value) OVER (PARTITION BY user_id
             ORDER BY ts, event_id), 2) AS delta
FROM events WHERE user_id < 10
"""


def q11_customers_without_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
            .select("c_custkey", "c_name"))


Q11_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q12_range_join(spark, sf_dir):
    """T5-style range attachment: lineitems shipped within 30 days of their
    order date, counted per order status."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    j = li.join(o, (F.col("l_orderkey") == F.col("o_orderkey"))
                & (F.col("l_shipdate") >= F.col("o_orderdate"))
                & (F.col("l_shipdate") <= F.date_add(F.col("o_orderdate"), 30)))
    return (j.groupBy("o_orderstatus")
            .agg(F.count("*").alias("n_lineitems"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_price")))


Q12_SQL = """
SELECT o_orderstatus, count(*) AS n_lineitems,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= o_orderdate
  AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
GROUP BY o_orderstatus
"""


def q13_event_pivot(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    agg = [F.round(F.sum(F.when(F.col("event_type") == t, F.col("value"))), 2)
           .alias(f"sum_{t}") for t in ("click", "view", "purchase")]
    return e.groupBy("user_id").agg(*agg)


Q13_SQL = """
SELECT user_id,
       round(sum(value) FILTER (WHERE event_type = 'click'), 2)    AS sum_click,
       round(sum(value) FILTER (WHERE event_type = 'view'), 2)     AS sum_view,
       round(sum(value) FILTER (WHERE event_type = 'purchase'), 2) AS sum_purchase
FROM events GROUP BY user_id
"""


def q14_rollup(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = (c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
         .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")))
    return j.rollup("r_name", "n_name").agg(F.count("*").alias("n"))


Q14_SQL = """
SELECT r_name, n_name, count(*) AS n
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q15_events_hourly(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (e.groupBy(F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_epoch"),
                      "event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


Q15_SQL = """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


def q19_asof_join(spark, sf_dir):
    """As-of join (custom operator via cogrouped merge_asof): each click
    event joined to the user's latest prior-or-simultaneous purchase.
    Right side pre-aggregated per (user, ts) so ties are unambiguous."""
    from ..analytics.asof import asof_join

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    # join on exact integer microseconds (timestamp columns returned from
    # pandas workers convert lossily across the NTZ boundary)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us")
    clicks = (e.filter(F.col("event_type") == "click")
              .select("user_id", "event_id", ts_us))
    purchases = (e.filter(F.col("event_type") == "purchase")
                 .select("user_id", ts_us, "value")
                 .groupBy("user_id", "ts_us")
                 .agg(F.max("value").alias("purchase_value")))
    joined = asof_join(clicks, purchases, on="ts_us", by="user_id",
                       right_value_cols=["purchase_value"])
    return joined.select(
        "user_id", "event_id",
        F.floor(F.col("ts_us") / 1_000_000).cast("long").alias("click_epoch"),
        F.floor(F.col("ts_us_right") / 1_000_000).cast("long")
        .alias("purchase_epoch"),
        F.round("purchase_value_right", 2).alias("purchase_value"))


Q19_SQL = """
WITH clicks AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
  WHERE event_type = 'click' AND user_id < 30),
purchases AS (
  SELECT user_id, epoch_us(ts) AS ts_us, max(value) AS purchase_value
  FROM events
  WHERE event_type = 'purchase' AND user_id < 30
  GROUP BY user_id, epoch_us(ts))
SELECT c.user_id, c.event_id,
       CAST(floor(c.ts_us / 1000000) AS BIGINT) AS click_epoch,
       CAST(floor(p.ts_us / 1000000) AS BIGINT) AS purchase_epoch,
       round(p.purchase_value, 2) AS purchase_value
FROM clicks c
ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
"""


def q16_cube(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (e.cube("event_type", (F.col("user_id") % 10).alias("user_bucket"))
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


Q16_SQL = """
SELECT event_type, user_id % 10 AS user_bucket, count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY CUBE (event_type, user_id % 10)
"""


def q17_except_intersect(spark, sf_dir):
    """Set ops: buyers who never errored (except) and clickers who also
    purchased (intersect)."""
    e = _t(spark, sf_dir, "events")
    buyers = e.filter(F.col("event_type") == "purchase").select("user_id")
    errorers = e.filter(F.col("event_type") == "error").select("user_id")
    clickers = e.filter(F.col("event_type") == "click").select("user_id")
    clean_buyers = buyers.distinct().exceptAll(errorers.distinct()) \
        .withColumn("cohort", F.lit("clean_buyer"))
    click_buyers = clickers.intersect(buyers) \
        .withColumn("cohort", F.lit("click_buyer"))
    return clean_buyers.unionByName(click_buyers)


Q17_SQL = """
SELECT user_id, 'clean_buyer' AS cohort FROM (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
  EXCEPT
  SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
UNION ALL
SELECT user_id, 'click_buyer' AS cohort FROM (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
  INTERSECT
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
"""


def q18_json_props(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (e.select("event_id",
                     F.get_json_object("props", "$.k").alias("k"))
            .filter(F.col("k").isNotNull())
            .withColumn("k_int", F.col("k").cast("int")))


Q18_SQL = """
SELECT event_id, json_extract_string(props, '$.k') AS k,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_int
FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
"""


# ---------------------------------------------------------------------------
# crawl scheduling as a driver-gated query: the politeness queue vs a
# closed-form SQL oracle over the same synthetic frontier
# ---------------------------------------------------------------------------

CRAWL_Q_N = 400
CRAWL_Q_BUDGET = 12


def q40_crawl_schedule(spark, sf_dir):
    """One politeness scheduling round over a synthetic frontier, through
    the ENGINE's own operators (salted two-phase top-k + range-partitioned
    global sequencing). Oracle: identical semantics in pure SQL windows."""
    from ..crawl.canonicalize import host_of, url_hash64
    from ..crawl.frontier import global_sequence, schedule_generation

    frontier = (spark.range(0, CRAWL_Q_N)
                .select(F.format_string("akf://cd%d/%04d.html",
                                        (F.lit(1999) + F.col("id") % 7).cast("int"),
                                        F.col("id").cast("int")).alias("url"))
                .withColumn("url_hash", url_hash64("url"))
                .withColumn("host", host_of("url"))
                .withColumn("next_fetch_time", (F.col("url_hash") % 3).cast("long"))
                .withColumn("depth", F.lit(0)))
    sched = schedule_generation(frontier, CRAWL_Q_BUDGET, n_salts=4)
    sched, _n = global_sequence(sched, ["next_fetch_time", "url_hash", "url"], 0)
    # materialize eagerly (tiny result), then release the range-sorted
    # cache global_sequence exposes — mirroring the engine's cached-list
    # handling; returning lazily would leak one persisted frame per call
    out = (sched.select("scheduled_seq", "url", "host", "url_hash",
                        "next_fetch_time")
           .localCheckpoint())
    sched._ordered_cache.unpersist()
    return out


Q40_SQL = f"""
WITH frontier AS (
  SELECT printf('akf://cd%d/%04d.html', 1999 + (i % 7), i) AS url
  FROM UNNEST(range(0, {CRAWL_Q_N})) AS t(i)),
identity AS (
  SELECT url,
         CAST(concat('0x', substr(md5(url), 1, 15)) AS BIGINT) AS url_hash,
         regexp_extract(url, '^([a-z0-9+.\\-]+://[^/]+)', 1) AS host
  FROM frontier),
keyed AS (
  SELECT url, url_hash, host, url_hash % 3 AS next_fetch_time FROM identity),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY host
             ORDER BY next_fetch_time, url_hash, url) AS rk
  FROM keyed)
SELECT row_number() OVER (ORDER BY next_fetch_time, url_hash, url) - 1
         AS scheduled_seq,
       url, host, url_hash, next_fetch_time
FROM ranked WHERE rk <= {CRAWL_Q_BUDGET}
"""


def q41_crawl_seen_antijoin(spark, sf_dir):
    """Frontier x seen exact anti-join on the portable 64-bit identity hash
    (the crawl's dedupe primitive), expressed over the driver tables: which
    order URLs are not yet in the 'seen' sample."""
    o = _t(spark, sf_dir, "orders")
    urls = o.select(
        F.format_string("https://shop.example/order/%d",
                        F.col("o_orderkey").cast("int")).alias("url"))
    from ..crawl.canonicalize import url_hash64
    hashed = urls.withColumn("url_hash", url_hash64("url"))
    seen = hashed.filter(F.col("url_hash") % 5 == 0).select("url_hash")
    return (hashed.join(seen, "url_hash", "left_anti")
            .select("url", "url_hash"))


Q41_SQL = """
WITH hashed AS (
  SELECT printf('https://shop.example/order/%d', o_orderkey) AS url,
         CAST(concat('0x', substr(md5(printf('https://shop.example/order/%d',
              o_orderkey)), 1, 15)) AS BIGINT) AS url_hash
  FROM orders)
SELECT url, url_hash FROM hashed
WHERE url_hash % 5 <> 0
"""


# ---------------------------------------------------------------------------
# text / training-data ops over documents
# ---------------------------------------------------------------------------


def q20_token_count(spark, sf_dir):
    return text.token_count(_t(spark, sf_dir, "documents"))


Q20_SQL = r"""
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
       length(text) AS n_chars_measured
FROM documents
"""

_DE = text.DE_STOPWORDS
_EN = text.EN_STOPWORDS


def _sql_hits(words):
    terms = " + ".join(
        "(length(p) - length(replace(p, ' {w} ', ''))) / {d}".format(w=w, d=len(w) + 2)
        for w in words)
    return f"CAST(({terms}) AS BIGINT)"


def q21_quality(spark, sf_dir):
    return text.quality_scores(_t(spark, sf_dir, "documents"))


Q21_SQL = r"""
WITH base AS (
  SELECT doc_id, text, ' ' || lower(text) || ' ' AS p,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
  FROM documents)
SELECT doc_id,
       length(text) AS n_chars_measured,
       n_tokens,
       round(n_punct / greatest(length(text), 1), 6) AS punct_ratio,
       round({hits} / greatest(n_tokens, 1), 6) AS stopword_ratio,
       round(length(text) / greatest(n_tokens, 1), 4) AS avg_token_len,
       (n_tokens >= 5
        AND round(n_punct / greatest(length(text), 1), 6) < 0.3) AS quality_ok
FROM base
""".format(hits=_sql_hits(_DE + _EN))


def q22_langid(spark, sf_dir):
    return text.language_id(_t(spark, sf_dir, "documents"))


Q22_SQL = r"""
WITH base AS (
  SELECT doc_id, lang, ' ' || lower(text) || ' ' AS p FROM documents),
hits AS (
  SELECT doc_id, lang, {de} AS de_hits, {en} AS en_hits FROM base)
SELECT doc_id, lang, de_hits, en_hits,
       CASE WHEN de_hits > en_hits THEN 'de'
            WHEN en_hits > de_hits THEN 'en'
            ELSE 'und' END AS lang_guess
FROM hits
""".format(de=_sql_hits(_DE), en=_sql_hits(_EN))


def q23_fingerprint(spark, sf_dir):
    return text.fingerprint(_t(spark, sf_dir, "documents"))


Q23_SQL = r"""
WITH fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
  FROM documents)
SELECT doc_id, fingerprint,
       CAST(concat('0x', substr(fingerprint, 1, 15)) AS BIGINT) AS fingerprint64
FROM fp
"""


def q24_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


Q24_SQL = r"""
WITH fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
  FROM documents)
SELECT doc_id, fingerprint,
       count(*) OVER (PARTITION BY fingerprint) AS group_size,
       min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_doc_id,
       doc_id = min(doc_id) OVER (PARTITION BY fingerprint) AS is_canonical
FROM fp
"""

_SHINGLE_SQL = r"""
  toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
  sh AS (
    SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
    FROM toks, UNNEST(range(1, greatest(len(t) - 3, 0) + 2)) AS u(i)
    WHERE length(array_to_string(t[i:i+2], ' ')) > 0)
"""


def q25_minhash_bands(spark, sf_dir):
    return dedup.lsh_band_keys(_t(spark, sf_dir, "documents"))


Q25_SQL = r"""
WITH {shingles},
hashes AS (
  SELECT doc_id, h,
         CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT)
         + h * CAST(concat('0x', substr(md5(shingle), 9, 8)) AS BIGINT) AS hv
  FROM sh, UNNEST(range(0, 8)) AS hh(h)),
sig AS (
  SELECT doc_id, h, min(hv) AS minhash FROM hashes GROUP BY doc_id, h)
SELECT doc_id, CAST(h // 2 AS INT) AS band,
       md5(array_to_string(list_sort(list(minhash)), ',')) AS band_key
FROM sig GROUP BY doc_id, band
""".format(shingles=_SHINGLE_SQL)


def q26_simhash(spark, sf_dir):
    return dedup.simhash(_t(spark, sf_dir, "documents"))


Q26_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
  FROM documents),
th AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT) AS lo,
         CAST(concat('0x', substr(md5(token), 9, 8)) AS BIGINT) AS hi
  FROM toks),
votes AS (
  SELECT doc_id, b.bit,
         CASE WHEN ((CASE WHEN b.bit < 32 THEN lo ELSE hi END)
                    >> (b.bit % 32)) & 1 = 1
              THEN 1 ELSE -1 END AS vote
  FROM th, UNNEST(range(0, 64)) AS b(bit)),
bitvals AS (
  SELECT doc_id, bit,
         CASE WHEN sum(vote) > 0 THEN
           CASE WHEN bit = 63 THEN CAST(-9223372036854775808 AS BIGINT)
                ELSE (CAST(1 AS BIGINT) << bit) END
         ELSE 0 END AS bitval
  FROM votes GROUP BY doc_id, bit)
SELECT doc_id, CAST(sum(bitval) AS BIGINT) AS simhash
FROM bitvals GROUP BY doc_id
"""


def q27_embedding_topk(spark, sf_dir):
    return similarity.cosine_topk_bruteforce(
        _t(spark, sf_dir, "embeddings"), EMB_QUERY_IDS, k=5)


Q27_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
  FROM embeddings WHERE vec_id IN ({ids})),
scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.q_emb), 4) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
""".format(ids=",".join(str(i) for i in EMB_QUERY_IDS))


def q28_lse_histogram(spark, sf_dir):
    return text.lse_histogram(_t(spark, sf_dir, "documents"))


_LSE_CLASSED_SQL = r"""
elems AS (
  SELECT doc_id,
         regexp_extract_all(text,
           '\(.*?\)|\d+([.,]\d+)?|[A-Za-zÄÖÜäöüß\-]+|\s+|[\s\S]', 0) AS t
  FROM documents),
pos AS (
  SELECT doc_id, t[i] AS token, i - 1 AS pos, len(t) AS n_elems
  FROM elems, UNNEST(range(1, len(t) + 1)) AS u(i)),
classed AS (
  SELECT doc_id, pos,
         least(CAST(floor(pos * 10 / greatest(n_elems, 1)) AS INT), 9) AS sector,
         CASE WHEN regexp_full_match(token, '\(.*\)') THEN 'inBrackets'
              WHEN regexp_full_match(token, '\d+([.,]\d+)?') THEN 'number'
              WHEN regexp_full_match(token, '[A-Za-zÄÖÜäöüß\-]+') THEN 'word'
              WHEN regexp_full_match(token, '\s+') THEN 'whitespace'
              ELSE 'specialcharacter' END AS token_class
  FROM pos)
"""

Q28_SQL = f"""
WITH {_LSE_CLASSED_SQL}
SELECT sector, token_class, count(*) AS occurrences
FROM classed GROUP BY sector, token_class
"""


def q29_lse_grouped(spark, sf_dir):
    """A3 streak grouping, byte-faithful port of the reference walk
    (ref lib/lineSegmentAnalyzer.js:21,567-758; Node-vm golden lock in
    tests/test_lse_grouping.py). Oracle: pinned table from the sequential
    twin (DuckDB histogram — the green q28 SQL — fed through the locked
    walk; scripts/gen_pinned_oracles.py). Valid at sf0.01, the scale the
    driver runs oracles at."""
    return text.lse_grouped(_t(spark, sf_dir, "documents"))


Q29_SQL = (
    "SELECT token_class, CAST(group_sector AS INT) AS group_sector,\n"
    "       CAST(occurrences AS BIGINT) AS occurrences,\n"
    "       CAST(group_size AS INT) AS group_size\n"
    "FROM (VALUES\n"
    + ",\n".join(f"  ('{c}', {s}, {o}, {g})"
                 for c, s, o, g in getattr(_pinned, "Q29_EXPECTED", []))
    + "\n) AS t(token_class, group_sector, occurrences, group_size)"
)


def q50_lse_coupled(spark, sf_dir):
    """A3 streak grouping in the reference's SINGLE-WALK mode: all token
    classes thread through one shared sectorsHolder so the hoisted
    nextElement leak couples classes (ref lib/lineSegmentAnalyzer.js:605).
    Walk order = the reference's sectorsHolder key-insertion order, derived
    distributively as min(struct(doc_id, pos)) per (sector, class) — see
    analytics/text.py. Oracle: pinned table from the sequential twin
    (DuckDB classed elements + row_number scan order through the
    Node-vm-locked walk, coupled)."""
    return text.lse_grouped(_t(spark, sf_dir, "documents"), coupled=True)


Q50_SQL = (
    "SELECT token_class, CAST(group_sector AS INT) AS group_sector,\n"
    "       CAST(occurrences AS BIGINT) AS occurrences,\n"
    "       CAST(group_size AS INT) AS group_size\n"
    "FROM (VALUES\n"
    + ",\n".join(f"  ('{c}', {s}, {o}, {g})"
                 for c, s, o, g in getattr(_pinned, "Q50_EXPECTED", []))
    + "\n) AS t(token_class, group_sector, occurrences, group_size)"
)


def q51_lse_zumstein(spark, sf_dir):
    """zumsteinVector mode (USE_ZUMSTEIN_VECTOR, ref
    lib/lineSegmentAnalyzer.js:26,225-250): one special-characters element
    per line, histogram keyed by the vector string (analyzeDataset keys
    non-number classes by CONTENT, :420-440). Exact DuckDB twin below."""
    return text.lse_zumstein_histogram(_t(spark, sf_dir, "documents"))


Q51_SQL = r"""
WITH vecs AS (
  SELECT doc_id,
         list_aggregate(list_transform(
           regexp_extract_all(text, '[^a-zA-Z0-9üÜäÄöÖßé_.¦]+'),
           x -> regexp_replace(x, '^\s+|\s+$', '', 'g')),
           'string_agg', '') AS v,
         len(regexp_extract_all(text, '[^a-zA-Z0-9üÜäÄöÖßé_.¦]+')) AS n
  FROM documents WHERE text <> ''),
keyed AS (
  SELECT CASE WHEN v IS NULL OR v = '' THEN 'WHITESPACE' ELSE v END AS zvector
  FROM vecs WHERE n > 0)
SELECT 0 AS sector, zvector, count(*) AS occurrences
FROM keyed GROUP BY zvector
"""


def q66_lse_throw_audit(spark, sf_dir):
    """Crash-parity channel for zumsteinVector mode (ref
    lib/lineSegmentAnalyzer.js:228 throws TypeError on a no-special-match
    line; the engine drops + surfaces instead — S7 contract). All-false
    over this corpus == the reference would have survived it, closing the
    last documented LSE deviation with a value-hashed audit instead of a
    prose note."""
    return text.lse_zumstein_throw_audit(_t(spark, sf_dir, "documents"))


Q66_SQL = r"""
SELECT doc_id,
       (text <> '' AND len(regexp_extract_all(
          text, '[^a-zA-Z0-9üÜäÄöÖßé_.¦]+')) = 0) AS would_throw
FROM documents
"""


def q67_training_mix(spark, sf_dir):
    """Capstone composition — the curation pass a training-data pipeline
    runs nightly, in ONE plan: exact-dedup keep-list + quality gate +
    language filter + md5-derived shard assignment (engine-portable, so
    the oracle reproduces shards bit-for-bit). Single shuffle (the
    16-byte-fingerprint window)."""
    return text.curate_training_mix(_t(spark, sf_dir, "documents"))


Q67_SQL = r"""
WITH padded AS (
  SELECT doc_id, text, ' ' || lower(text) || ' ' AS p FROM documents),
base AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         round(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
               / greatest(length(text), 1), 6) AS punct_ratio,
         CASE WHEN {de} > {en} THEN 'de'
              WHEN {en} > {de} THEN 'en' ELSE 'und' END AS lang_guess,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
  FROM padded),
dd AS (
  SELECT *, doc_id = min(doc_id) OVER (PARTITION BY fingerprint)
            AS is_canonical
  FROM base)
SELECT doc_id, lang_guess, n_tokens, fingerprint,
       CAST(CAST(concat('0x', substr(fingerprint, 1, 15)) AS BIGINT) % 8
            AS INT) AS shard
FROM dd
WHERE is_canonical AND n_tokens >= 5 AND punct_ratio < 0.3
  AND lang_guess IN ('de', 'en')
""".format(de=_sql_hits(_DE), en=_sql_hits(_EN))


def q68_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs (threshold 0.5, no stop-shingle
    cap so the SQL twin is closed-form) — the pair plane q49 resolves into
    clusters, value-gated on the jaccard scores themselves."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_doc_freq=None)


Q68_SQL = (r"""
WITH""" + _SHINGLE_SQL + r""",
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM sh x JOIN sh y USING (shingle) WHERE x.doc_id < y.doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN sh sa ON c.doc_a = sa.doc_id
  JOIN sh sb ON c.doc_b = sb.doc_id AND sa.shingle = sb.shingle
  GROUP BY c.doc_a, c.doc_b)
SELECT doc_a, doc_b,
       round(n_common / (za.n_sh + zb.n_sh - n_common), 6) AS jaccard
FROM inter
JOIN sizes za ON za.doc_id = inter.doc_a
JOIN sizes zb ON zb.doc_id = inter.doc_b
WHERE round(n_common / (za.n_sh + zb.n_sh - n_common), 6) >= 0.5
""")


def q71_minhash_candidates(spark, sf_dir):
    """The full MinHash pipeline end-to-end: banded-LSH candidate pairs
    (share >= 1 of 4 band keys) verified by EXACT Jaccard over the shingle
    sets — approximate prefilter, exact verdict. Value-gates the candidate
    SET (which pairs the banding surfaces) and the exact scores in one
    hash."""
    return dedup.minhash_candidates(_t(spark, sf_dir, "documents"))


Q71_SQL = (r"""
WITH""" + _SHINGLE_SQL + r""",
hashes AS (
  SELECT doc_id, h,
         CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT)
         + h * CAST(concat('0x', substr(md5(shingle), 9, 8)) AS BIGINT) AS hv
  FROM sh, UNNEST(range(0, 8)) AS hh(h)),
sig AS (
  SELECT doc_id, h, min(hv) AS minhash FROM hashes GROUP BY doc_id, h),
bk AS (
  SELECT doc_id, CAST(h // 2 AS INT) AS band,
         md5(array_to_string(list_sort(list(minhash)), ',')) AS band_key
  FROM sig GROUP BY doc_id, band),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bk a JOIN bk b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN sh sa ON c.doc_a = sa.doc_id
  JOIN sh sb ON c.doc_b = sb.doc_id AND sa.shingle = sb.shingle
  GROUP BY c.doc_a, c.doc_b)
SELECT i.doc_a, i.doc_b,
       round(i.n_common / (za.n_sh + zb.n_sh - i.n_common), 6) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
""")


def q72_token_count_bpe(spark, sf_dir):
    """BPE-ish token counting (GPT-2 pre-tokenizer split, RE2-compatible
    subset) next to the whitespace count (q20) — oracle value-gates that
    Java regex and RE2 tokenize the corpus identically under the shared
    leftmost-first alternation semantics."""
    return text.token_count_bpe(_t(spark, sf_dir, "documents"))


Q72_SQL = r"""
SELECT doc_id,
       len(list_filter(regexp_extract_all(text,
           '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'),
           x -> NOT regexp_matches(x, '^\s+$'))) AS n_bpe_tokens,
       len(regexp_extract_all(text,
           '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'))
       AS n_bpe_pieces
FROM documents
"""


def q75_repetition_scores(spark, sf_dir):
    """Gopher-style within-document repetition signals (dup-line fractions,
    top-bigram character coverage, dup-5-gram instance fraction) + the
    composite gate. The oracle recomputes every gram/line aggregation and
    the deterministic count-then-lexicographic mode tie-break
    relationally, value-gating fractions AND the gate in one hash."""
    return text.repetition_scores(_t(spark, sf_dir, "documents"))


Q75_SQL = r"""
WITH t AS (
  SELECT doc_id, text, length(text) AS nc,
         regexp_split_to_array(trim(text), '\s+') AS w
  FROM documents),
bg AS (
  SELECT doc_id, w[i] || ' ' || w[i + 1] AS g, count(*) AS c
  FROM t, UNNEST(range(1, len(w))) AS u(i)
  GROUP BY 1, 2),
top AS (
  SELECT doc_id, g AS top_bigram, c AS tc
  FROM (SELECT doc_id, g, c,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY c DESC, g DESC) AS rn
        FROM bg)
  WHERE rn = 1),
g5c AS (
  SELECT doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
              || ' ' || w[i+4] AS g,
         count(*) AS c
  FROM t, UNNEST(range(1, len(w) - 3)) AS u(i)
  GROUP BY 1, 2),
g5 AS (
  SELECT doc_id, sum(c) AS n5, sum(CASE WHEN c > 1 THEN c END) AS d5
  FROM g5c GROUP BY doc_id),
lraw AS (
  SELECT doc_id, UNNEST(string_split(text, chr(10))) AS l FROM t),
lcnt AS (
  SELECT doc_id, l, count(*) AS c FROM lraw WHERE length(l) > 0
  GROUP BY 1, 2),
ln AS (
  SELECT doc_id, sum(c) AS nl, count(*) AS ndl,
         sum(c * length(l)) AS tlc,
         sum(CASE WHEN c > 1 THEN c * length(l) END) AS dlc
  FROM lcnt GROUP BY doc_id)
SELECT t.doc_id,
       CAST(coalesce(nl, 0) AS BIGINT) AS n_lines,
       round(coalesce((nl - ndl) / nl, 0), 6) AS dup_line_frac,
       round(coalesce(dlc / tlc, 0), 6) AS dup_line_char_frac,
       top_bigram,
       round(coalesce(tc * length(top_bigram) / greatest(nc, 1), 0), 6)
         AS top_bigram_frac,
       round(coalesce(d5 / n5, 0), 6) AS dup_5gram_frac,
       (round(coalesce((nl - ndl) / nl, 0), 6) <= 0.30
        AND round(coalesce(tc * length(top_bigram) / greatest(nc, 1), 0), 6)
            <= 0.18
        AND round(coalesce(d5 / n5, 0), 6) <= 0.15) AS repetition_ok
FROM t
LEFT JOIN ln  USING (doc_id)
LEFT JOIN top USING (doc_id)
LEFT JOIN g5  USING (doc_id)
"""


def q76_training_mix_gated(spark, sf_dir):
    """The q67 curation capstone with the Gopher repetition gate composed
    in FineWeb-style (repetition filter BEFORE dedup, so a gated-out doc
    can never be the surviving canonical). The oracle nests the full Q75
    repetition pipeline as a semi-join prefilter ahead of the verbatim
    Q67 dedup/quality/langid/shard chain — value-gating the composition
    order itself."""
    return text.curate_training_mix(_t(spark, sf_dir, "documents"),
                                    repetition_gate=True)


Q76_SQL = ("WITH rep AS (\n" + Q75_SQL.strip() + "\n),\n"
           "okd AS (SELECT doc_id FROM rep WHERE repetition_ok),\n"
           "docs2 AS (SELECT d.doc_id, d.text FROM documents d\n"
           "          SEMI JOIN okd USING (doc_id)),\n"
           + Q67_SQL.strip()[len("WITH"):].lstrip()
           .replace("FROM documents", "FROM docs2"))


PII_N_DOCS = 60


def _pii_corpus(spark):
    """Deterministic planted-PII mini-corpus (the shared corpus is PII-free
    — probed zero hits for all four patterns): emails, +49 phones, IPv4,
    DE IBANs planted by index arithmetic, reproduced verbatim by the
    oracle through the same printf formulas."""
    i = F.col("id")
    fs = F.format_string
    body = F.concat(
        fs("Bericht %d: Kontakt user%03d.name@firma%02d.de erreichbar",
           i, i, i % 50),
        fs(" unter +49 30 %07d jederzeit", i * 37 + 1000000),
        F.when(i % 3 == 0,
               fs(" oder info@abteilung%02d.example.org", i % 30))
        .otherwise(""),
        F.when(i % 4 == 0,
               fs(" Server 10.%d.%d.%d aktiv",
                  i % 256, (i * 7) % 256, (i * 13) % 256)).otherwise(""),
        F.when(i % 5 == 0,
               fs(" Konto DE%02d%018d gefuehrt",
                  (i * 11) % 100, i * 104729)).otherwise(""),
        fs(" Ende des Berichts %d", i))
    return spark.range(PII_N_DOCS).select(
        fs("pii/%04d", i).alias("doc_id"), body.alias("text"))


def q77_pii_scan(spark, sf_dir):
    """PII detection + redaction over the planted mini-corpus UNIONed with
    the real documents table — the real docs value-gate the
    false-positive surface (all counts zero, redacted == text), the mini
    docs gate detection counts and the ordered redaction rewrite. The
    oracle runs the identical Java∩RE2 patterns under RE2."""
    docs = _pii_corpus(spark).unionByName(
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text"))
    return text.pii_scan(docs)


Q77_SQL = r"""
WITH mini AS (
  SELECT printf('pii/%04d', i) AS doc_id,
         printf('Bericht %d: Kontakt user%03d.name@firma%02d.de erreichbar',
                i, i, i % 50)
         || printf(' unter +49 30 %07d jederzeit', i * 37 + 1000000)
         || CASE WHEN i % 3 = 0
                 THEN printf(' oder info@abteilung%02d.example.org', i % 30)
                 ELSE '' END
         || CASE WHEN i % 4 = 0
                 THEN printf(' Server 10.%d.%d.%d aktiv',
                             i % 256, (i * 7) % 256, (i * 13) % 256)
                 ELSE '' END
         || CASE WHEN i % 5 = 0
                 THEN printf(' Konto DE%02d%018d gefuehrt',
                             (i * 11) % 100, i * 104729)
                 ELSE '' END
         || printf(' Ende des Berichts %d', i) AS text
  FROM UNNEST(range(0, 60)) AS t(i)),
alldocs AS (
  SELECT * FROM mini
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents)
SELECT doc_id,
       len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,255}\.[A-Za-z]{2,}')) AS n_emails,
       len(regexp_extract_all(text, '\+49[ 0-9]{7,13}[0-9]')) AS n_phones,
       len(regexp_extract_all(text,
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
       len(regexp_extract_all(text, '\bDE[0-9]{20}\b')) AS n_ibans,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '\bDE[0-9]{20}\b', '<IBAN>', 'g'),
             '[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,255}\.[A-Za-z]{2,}', '<EMAIL>',
             'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
         '\+49[ 0-9]{7,13}[0-9]', '<PHONE>', 'g') AS redacted,
       (len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,255}\.[A-Za-z]{2,}'))
        + len(regexp_extract_all(text, '\+49[ 0-9]{7,13}[0-9]'))
        + len(regexp_extract_all(text,
              '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        + len(regexp_extract_all(text, '\bDE[0-9]{20}\b'))) > 0 AS has_pii
FROM alldocs
"""


def q78_decontaminate(spark, sf_dir):
    """13-gram test-set decontamination (GPT-3 appendix-C rule): every
    20th doc plays the benchmark suite, the rest are scanned for any
    shared word 13-gram. The oracle recomputes grams via list slicing and
    value-gates hit counts + flags; non-vacuous on this corpus (planted
    near-dups straddle the split)."""
    docs = _t(spark, sf_dir, "documents")
    return text.decontaminate(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0))


Q78_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
  FROM documents),
gr AS (
  SELECT doc_id, array_to_string(w[i:i + 12], ' ') AS g
  FROM t, UNNEST(range(1, len(w) - 11)) AS u(i)),
bench AS (SELECT DISTINCT g FROM gr WHERE doc_id % 20 = 0),
dg AS (SELECT DISTINCT doc_id, g FROM gr WHERE doc_id % 20 != 0),
hits AS (
  SELECT doc_id, count(*) AS n_hits FROM dg SEMI JOIN bench USING (g)
  GROUP BY doc_id)
SELECT t.doc_id,
       CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(n_hits, 0) > 0 AS contaminated
FROM t LEFT JOIN hits USING (doc_id)
WHERE t.doc_id % 20 != 0
"""


SITEMAP_N = 40


def _sitemap_corpus(spark):
    """Deterministic sitemap-XML corpus: every 5th doc is a
    <sitemapindex> (two children, one with lastmod), the rest are
    <urlset>s with a plain entry, a whitespace-padded loc + lastmod
    entry, a loc-less block (spec-invalid, must be dropped) and an extra
    path entry — all printf-reproducible, one real newline per doc so the
    (?s) block patterns are actually exercised."""
    i = F.col("id")
    fs = F.format_string
    nl = F.lit("\n")
    index_xml = F.concat(
        F.lit('<?xml version="1.0"?><sitemapindex>'), nl,
        fs('<sitemap><loc>akf://cd%d/sitemap-%d.xml</loc></sitemap>',
           i % 7, i),
        fs('<sitemap><loc>akf://cd%d/sitemap-%d.xml</loc>'
           '<lastmod>2005-%02d-01</lastmod></sitemap>',
           i % 7, i + 1000, i % 12 + 1),
        F.lit('</sitemapindex>'))
    urlset_xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset>'), nl,
        fs('<url><loc>akf://cd%d/%04d.html</loc></url>', i % 7, i),
        fs('<url><loc>  akf://cd%d/%04d.html </loc>'
           '<lastmod>2005-%02d-%02d</lastmod></url>',
           i % 7, i + 5000, i % 12 + 1, i % 28 + 1),
        F.lit('<url><lastmod>2005-01-01</lastmod></url>'),
        fs('<url><loc>akf://cd%d/extra/%d</loc></url>', i % 7, i * 3),
        F.lit('</urlset>'))
    return spark.range(SITEMAP_N).select(
        fs("akf://cd%d", i % 7).alias("host"),
        F.when(i % 5 == 0, index_xml).otherwise(urlset_xml).alias("xml"))


def q79_sitemap_ingest(spark, sf_dir):
    """Sitemap-protocol ingestion (crawl/sitemaps.py): <urlset> page URLs
    + <sitemapindex> children with lastmod passthrough, loc-less blocks
    dropped, whitespace-padded locs trimmed. The oracle runs the
    identical (?s) non-greedy patterns under RE2 over the same printf
    corpus."""
    from ..crawl.sitemaps import parse_sitemaps

    return parse_sitemaps(_sitemap_corpus(spark))


Q79_SQL = r"""
WITH corpus AS (
  SELECT printf('akf://cd%d', i % 7) AS host,
         CASE WHEN i % 5 = 0 THEN
           '<?xml version="1.0"?><sitemapindex>' || chr(10)
           || printf('<sitemap><loc>akf://cd%d/sitemap-%d.xml</loc></sitemap>',
                     i % 7, i)
           || printf('<sitemap><loc>akf://cd%d/sitemap-%d.xml</loc>'
                     || '<lastmod>2005-%02d-01</lastmod></sitemap>',
                     i % 7, i + 1000, i % 12 + 1)
           || '</sitemapindex>'
         ELSE
           '<?xml version="1.0"?><urlset>' || chr(10)
           || printf('<url><loc>akf://cd%d/%04d.html</loc></url>', i % 7, i)
           || printf('<url><loc>  akf://cd%d/%04d.html </loc>'
                     || '<lastmod>2005-%02d-%02d</lastmod></url>',
                     i % 7, i + 5000, i % 12 + 1, i % 28 + 1)
           || '<url><lastmod>2005-01-01</lastmod></url>'
           || printf('<url><loc>akf://cd%d/extra/%d</loc></url>', i % 7, i * 3)
           || '</urlset>'
         END AS xml
  FROM UNNEST(range(0, 40)) AS t(i)),
blocks AS (
  SELECT host, 'url' AS kind,
         UNNEST(regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1)) AS b
  FROM corpus
  UNION ALL
  SELECT host, 'sitemap' AS kind,
         UNNEST(regexp_extract_all(xml, '(?s)<sitemap>(.*?)</sitemap>', 1))
         AS b
  FROM corpus)
SELECT host, kind,
       regexp_extract(b, '(?s)<loc>\s*(.*?)\s*</loc>', 1) AS url,
       nullif(regexp_extract(b, '(?s)<lastmod>\s*(.*?)\s*</lastmod>', 1), '')
         AS lastmod
FROM blocks
WHERE regexp_extract(b, '(?s)<loc>\s*(.*?)\s*</loc>', 1) != ''
"""


PR_N_NODES = 400
PR_N_ITER = 3


def q80_pagerank(spark, sf_dir):
    """Fixed-point PageRank (analytics/graph.py) over the deterministic
    Beteiligungen link graph (fixtures.beteiligung_targets — the crawl
    out-link function): 400 nodes, 3 synchronous steps, BIGINT micro-unit
    scores. Integer arithmetic end-to-end makes an ITERATIVE algorithm
    value-hashable: the oracle unrolls the same three steps relationally
    and every score matches bit-for-bit."""
    from ..analytics.graph import pagerank_fixedpoint

    n = PR_N_NODES
    i, j = F.col("i"), F.col("j")
    edges = (spark.range(n).withColumnRenamed("id", "i")
             .select("i", F.explode(
                 F.sequence(F.lit(0), F.lit(1) + i % 3)).alias("j"))
             .select(F.col("i").alias("src"),
                     ((i * 7 + j * 13 + 1) % n).alias("dst"))
             .filter(F.col("dst") != F.col("src")))
    return pagerank_fixedpoint(spark, edges, n, n_iter=PR_N_ITER)


def _q80_sql() -> str:
    n = PR_N_NODES
    base = 10**12 // n
    teleport = (15 * base) // 100
    parts = [f"""
WITH edges AS (
  SELECT i AS src, (i*7 + j*13 + 1) % {n} AS dst
  FROM UNNEST(range(0, {n})) t(i), UNNEST(range(0, 2 + i % 3)) u(j)
  WHERE (i*7 + j*13 + 1) % {n} != i),
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
nodes AS (SELECT i AS node FROM UNNEST(range(0, {n})) t(i)),
s0 AS (SELECT node, {base} AS score FROM nodes)"""]
    for k in range(1, PR_N_ITER + 1):
        parts.append(f""",
c{k} AS (
  SELECT e.dst AS node, sum(s.score // d.d) AS inm
  FROM edges e JOIN deg d USING (src) JOIN s{k-1} s ON s.node = e.src
  GROUP BY e.dst),
s{k} AS (
  SELECT n.node, {teleport} + (85 * coalesce(c.inm, 0)) // 100 AS score
  FROM nodes n LEFT JOIN c{k} c USING (node))""")
    parts.append(f"""
SELECT node, CAST(score AS BIGINT) AS score FROM s{PR_N_ITER}
""")
    return "".join(parts)


Q80_SQL = _q80_sql()


def q81_kmv_distinct(spark, sf_dir):
    """KMV distinct-count sketch (analytics/sketches.py) over three
    lineitem key columns — l_suppkey has < k distinct values at sf0.01 so
    the exhaustive branch is exercised next to the estimator branch. The
    md5-derived hash makes the APPROXIMATE estimate itself bit-identical
    under DuckDB, so the oracle value-gates the sketch, not just its
    error bound."""
    from ..analytics.sketches import kmv_distinct

    return kmv_distinct(_t(spark, sf_dir, "lineitem"),
                        ["l_orderkey", "l_partkey", "l_suppkey"])


def _q81_col_sql(col: str, k: int = 256) -> str:
    m = (k - 1) * 2**60
    return f"""
SELECT '{col}' AS "column", n_kept,
       CASE WHEN n_kept >= {k} THEN kth END AS kth_hash,
       CASE WHEN n_kept < {k} THEN n_kept
            ELSE CAST(floor(CAST({m} AS DOUBLE)
                            / CAST(kth AS DOUBLE)) AS BIGINT)
       END AS est_distinct
FROM (
  SELECT count(*) AS n_kept, max(hv) AS kth
  FROM (
    SELECT hv FROM (
      SELECT DISTINCT CAST(concat('0x', substr(md5(CAST({col} AS VARCHAR)),
                                  1, 15)) AS BIGINT) AS hv
      FROM lineitem)
    ORDER BY hv LIMIT {k}))"""


Q81_SQL = (_q81_col_sql("l_orderkey") + "\nUNION ALL"
           + _q81_col_sql("l_partkey") + "\nUNION ALL"
           + _q81_col_sql("l_suppkey"))


SPLIT_WEIGHTS = {"train": 0.98, "valid": 0.01, "test": 0.01}


def q82_hash_split(spark, sf_dir):
    """Deterministic train/valid/test assignment (98/1/1) over the
    documents table: md5-salted 60-bit hash vs exact integer boundaries —
    stable under re-runs, partitionings and corpus growth (no eval->train
    leakage on re-shard). The oracle renders the IDENTICAL boundary
    integers (exported by hash_split_bounds) so both engines compare
    against the same literals."""
    return (text.hash_split(_t(spark, sf_dir, "documents"), SPLIT_WEIGHTS)
            .select("doc_id", "split"))


def _q82_sql() -> str:
    from ..analytics.text import hash_split_bounds

    b1, b2 = hash_split_bounds(SPLIT_WEIGHTS)
    return f"""
SELECT doc_id,
       CASE WHEN h < {b1} THEN 'train'
            WHEN h < {b2} THEN 'valid'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         CAST(concat('0x', substr(md5('split-v1|' || CAST(doc_id AS VARCHAR)),
                     1, 15)) AS BIGINT) AS h
  FROM documents)
"""


Q82_SQL = _q82_sql()


SENTDUP_N = 30


def _sentence_corpus(spark):
    """Planted boilerplate mini-corpus for q83 (the shared documents table
    contains no '. ' sentence boundaries at all — probed): every doc
    opens and closes with corpus-wide boilerplate sentences (kept only at
    their first global occurrence), carries one unique sentence, and
    every 3rd doc shares a group sentence with its cohort."""
    i = F.col("id")
    fs = F.format_string
    body = F.concat(
        F.lit("Alle Rechte vorbehalten. "),
        fs("Bericht Nummer %d enthaelt die Details. ", i),
        F.when(i % 3 == 0, fs("Gemeinsamer Hinweis Gruppe %d. ", i % 2))
        .otherwise(""),
        F.lit("Kontakt siehe Impressum"))
    return spark.range(SENTDUP_N).select(
        fs("sd/%04d", i).alias("doc_id"), body.alias("text"))


def q83_sentence_dedup(spark, sf_dir):
    """CCNet-style cross-document sentence dedup: each normalized
    sentence survives only at its first global (doc_id, pos) occurrence;
    cleaned text reassembled in position order. Runs over a planted
    boilerplate mini-corpus UNIONed with the real documents table (which
    has no sentence boundaries — it gates the single-sentence passthrough
    path). Oracle recomputes the keeper rule with a window and
    string_agg(ORDER BY pos) — value-gating the reassembled text itself,
    so any arrival-order leak would flip the hash."""
    docs = _sentence_corpus(spark).unionByName(
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text"))
    return text.sentence_dedup(docs)


Q83_SQL = r"""
WITH docs2 AS (
  SELECT printf('sd/%04d', i) AS doc_id,
         'Alle Rechte vorbehalten. '
         || printf('Bericht Nummer %d enthaelt die Details. ', i)
         || CASE WHEN i % 3 = 0
                 THEN printf('Gemeinsamer Hinweis Gruppe %d. ', i % 2)
                 ELSE '' END
         || 'Kontakt siehe Impressum' AS text
  FROM UNNEST(range(0, 30)) AS t(i)
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents),
arr AS (
  SELECT doc_id, regexp_split_to_array(text, '\.\s+') AS a FROM docs2),
s AS (
  SELECT doc_id, i - 1 AS pos, a[i] AS sent, lower(trim(a[i])) AS norm
  FROM arr, UNNEST(range(1, len(a) + 1)) AS u(i)
  WHERE length(trim(a[i])) > 0),
k AS (
  SELECT doc_id, pos, sent,
         row_number() OVER (PARTITION BY norm ORDER BY doc_id, pos) AS rn
  FROM s),
counts AS (SELECT doc_id, count(*) AS n_sentences FROM s GROUP BY doc_id),
rebuilt AS (
  SELECT doc_id, string_agg(sent, '. ' ORDER BY pos) AS cleaned_text,
         count(*) AS n_kept
  FROM k WHERE rn = 1 GROUP BY doc_id)
SELECT c.doc_id,
       coalesce(cleaned_text, '') AS cleaned_text,
       n_sentences,
       n_sentences - coalesce(n_kept, 0) AS n_removed
FROM counts c LEFT JOIN rebuilt USING (doc_id)
"""


def q84_profile_table(spark, sf_dir):
    """ANALYZE-style column profiler (analytics/sketches.py): nulls,
    min/max (string-rendered) and KMV distinct estimates for an int, a
    string and a timestamp column — the stats pass a planner/quality gate
    runs before touching the full corpus. Profiled columns restricted to
    types whose string rendering is engine-identical (doubles are not:
    scientific-notation thresholds differ)."""
    from ..analytics.sketches import profile_table

    return profile_table(_t(spark, sf_dir, "lineitem"),
                         ["l_orderkey", "l_returnflag", "l_shipdate"])


def _q84_col_sql(col: str, k: int = 256) -> str:
    m = (k - 1) * 2**60
    return f"""
SELECT '{col}' AS "column",
       (SELECT count(*) FROM lineitem) AS n_rows,
       (SELECT count(*) FILTER (WHERE {col} IS NULL) FROM lineitem)
         AS n_nulls,
       (SELECT CAST(min({col}) AS VARCHAR) FROM lineitem) AS min_value,
       (SELECT CAST(max({col}) AS VARCHAR) FROM lineitem) AS max_value,
       CASE WHEN n_kept < {k} THEN n_kept
            ELSE CAST(floor(CAST({m} AS DOUBLE)
                            / CAST(kth AS DOUBLE)) AS BIGINT)
       END AS est_distinct
FROM (
  SELECT count(*) AS n_kept, max(hv) AS kth
  FROM (
    SELECT hv FROM (
      SELECT DISTINCT CAST(concat('0x', substr(md5(CAST({col} AS VARCHAR)),
                                  1, 15)) AS BIGINT) AS hv
      FROM lineitem WHERE {col} IS NOT NULL)
    ORDER BY hv LIMIT {k}))"""


Q84_SQL = (_q84_col_sql("l_orderkey") + "\nUNION ALL"
           + _q84_col_sql("l_returnflag") + "\nUNION ALL"
           + _q84_col_sql("l_shipdate"))


def q85_cms_heavy_hitters(spark, sf_dir):
    """Count-min sketch frequency estimates for the corpus's top-15 exact
    tokens (analytics/sketches.py): md5-derived row hashes make the
    sketch — including each over-estimate — bit-identical under DuckDB,
    so the oracle gates the CMS invariant (cms_est >= exact_n) by
    value."""
    from ..analytics.sketches import cms_token_counts

    return cms_token_counts(_t(spark, sf_dir, "documents"))


Q85_SQL = r"""
WITH toks AS (
  SELECT UNNEST(regexp_split_to_array(trim(text), '\s+')) AS token
  FROM documents),
cells AS (
  SELECT r,
         CAST(concat('0x', substr(md5(CAST(r AS VARCHAR) || '|' || token),
                     1, 15)) AS BIGINT) % 1024 AS bucket,
         count(*) AS n
  FROM toks, UNNEST(range(0, 4)) AS u(r)
  GROUP BY 1, 2),
top AS (
  SELECT token, count(*) AS exact_n FROM toks GROUP BY token
  ORDER BY exact_n DESC, token DESC LIMIT 15),
probes AS (
  SELECT token, exact_n, r,
         CAST(concat('0x', substr(md5(CAST(r AS VARCHAR) || '|' || token),
                     1, 15)) AS BIGINT) % 1024 AS bucket
  FROM top, UNNEST(range(0, 4)) AS u(r))
SELECT token, exact_n, min(n) AS cms_est
FROM probes JOIN cells USING (r, bucket)
GROUP BY token, exact_n
"""


def q86_kmv_set_ops(spark, sf_dir):
    """KMV set-operation estimates (union / Jaccard / intersection of
    customer keys vs ordering-customer keys) — sketches compose by union,
    the property that makes them incrementally maintainable at 100 TB.
    All-integer/exact-double arithmetic, so the oracle value-gates the
    ESTIMATES themselves."""
    from ..analytics.sketches import kmv_set_ops

    return kmv_set_ops(_t(spark, sf_dir, "customer"), "c_custkey",
                       _t(spark, sf_dir, "orders"), "o_custkey")


def _q86_sql(k: int = 256) -> str:
    m = (k - 1) * 2**60
    return f"""
WITH ha AS (
  SELECT DISTINCT CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)),
                              1, 15)) AS BIGINT) AS hv FROM customer),
hb AS (
  SELECT DISTINCT CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)),
                              1, 15)) AS BIGINT) AS hv FROM orders),
merged AS (
  SELECT hv, max(in_a) AS in_a, max(in_b) AS in_b FROM (
    SELECT hv, 1 AS in_a, 0 AS in_b FROM ha
    UNION ALL
    SELECT hv, 0 AS in_a, 1 AS in_b FROM hb)
  GROUP BY hv),
sample AS (SELECT * FROM merged ORDER BY hv LIMIT {k}),
agg AS (
  SELECT count(*) AS n_union_sample, max(hv) AS kth,
         CAST(sum(in_a * in_b) AS BIGINT) AS n_both
  FROM sample),
est AS (
  SELECT *,
         CASE WHEN n_union_sample < {k} THEN n_union_sample
              ELSE CAST(floor(CAST({m} AS DOUBLE) / CAST(kth AS DOUBLE))
                        AS BIGINT)
         END AS est_union
  FROM agg)
SELECT n_union_sample,
       CASE WHEN n_union_sample >= {k} THEN kth END AS kth_hash,
       est_union,
       n_both,
       round(CAST(n_both AS DOUBLE) / n_union_sample, 6) AS est_jaccard,
       CAST(floor((CAST(n_both AS DOUBLE) / n_union_sample)
                  * CAST(est_union AS DOUBLE)) AS BIGINT)
         AS est_intersection
FROM est
"""


Q86_SQL = _q86_sql()


def q87_zorder_key(spark, sf_dir):
    """Z-order (Morton) clustering keys over orders: o_custkey % 256 x
    o_orderkey % 256 interleaved into a 16-bit key — the layout primitive
    behind OPTIMIZE ZORDER. Pure integer bit arithmetic; the oracle
    recomputes the interleave term-by-term and value-gates every key."""
    from ..operators.layout import zorder_key

    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        (F.col("o_custkey") % 256).alias("x"),
        (F.col("o_orderkey") % 256).alias("y"),
    ).withColumn("z", zorder_key(["x", "y"], bits=8))


def _q87_sql(bits: int = 8) -> str:
    terms = " + ".join(
        f"(((({c} >> {b}) & 1)) << {b * 2 + ci})"
        for b in range(bits) for ci, c in enumerate(("x", "y")))
    return f"""
WITH base AS (
  SELECT o_orderkey, o_custkey % 256 AS x, o_orderkey % 256 AS y
  FROM orders)
SELECT o_orderkey, x, y, CAST({terms} AS BIGINT) AS z FROM base
"""


Q87_SQL = _q87_sql()


PACK_CAPACITY = 4096


def q88_pack_shards(spark, sf_dir):
    """Token-budgeted shard packing (analytics/packing.py): the corpus as
    one md5-ordered token stream sliced into 4096-token shards — each
    doc's start_offset and shard. Runs the two-phase distributed cumsum
    (range partition + per-partition offsets + mapInPandas), which the
    oracle checks against a plain window running sum; materialized
    eagerly and the sorted cache released (the q40 pattern)."""
    from ..analytics.packing import pack_shards

    res = pack_shards(_t(spark, sf_dir, "documents"), PACK_CAPACITY)
    out = res.localCheckpoint()
    res._ordered_cache.unpersist()
    return out


Q88_SQL = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
           AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS ord
  FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY ord
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - n_tokens AS so
  FROM base)
SELECT doc_id, n_tokens,
       CAST(so AS BIGINT) AS start_offset,
       CAST(so // {PACK_CAPACITY} AS BIGINT) AS shard_id
FROM c
"""


def q89_quantize_embeddings(spark, sf_dir):
    """Symmetric int8 embedding quantization (analytics/similarity.py):
    per-vector max-abs scale, floor-based codes (floor of identical IEEE
    doubles is engine-stable where rounding modes are not). Codes
    rendered as a comma string so the hash gates every element of every
    vector."""
    from ..analytics.similarity import quantize_embeddings

    return quantize_embeddings(_t(spark, sf_dir, "embeddings"))


Q89_SQL = r"""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
scaled AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) AS s
  FROM base)
SELECT vec_id,
       round(s, 6) AS scale,
       CASE WHEN s = 0.0
            THEN array_to_string(list_transform(v, x -> 0), ',')
            ELSE array_to_string(
                   list_transform(v,
                     x -> CAST(floor(x * 127.0 / s) AS INT)), ',')
       END AS q_codes
FROM scaled
"""


def q90_int8_topk(spark, sf_dir):
    """Brute-force cosine top-k over int8-quantized codes — scales cancel
    out of cosine, so the scan is pure integer sums with one sqrt/divide
    per pair. The oracle re-runs quantization AND the integer dot
    products relationally (int sums are exact in any engine; sqrt is
    IEEE-correctly-rounded), value-gating the ranked lists."""
    from ..analytics.similarity import cosine_topk_int8

    return cosine_topk_int8(_t(spark, sf_dir, "embeddings"), [0, 7, 42])


Q90_SQL = r"""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
scaled AS (
  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS s
  FROM base),
codes AS (
  SELECT vec_id,
         CASE WHEN s = 0.0 THEN list_transform(v, x -> 0)
              ELSE list_transform(v, x -> CAST(floor(x * 127.0 / s) AS INT))
         END AS q
  FROM scaled),
corpus AS (
  SELECT vec_id, q,
         CAST(list_sum(list_transform(q, x -> CAST(x AS BIGINT) * x))
              AS BIGINT) AS n2
  FROM codes),
queries AS (
  SELECT vec_id AS query_id, q AS qq, n2 AS qn2 FROM corpus
  WHERE vec_id IN (0, 7, 42)),
scored AS (
  SELECT q.query_id, c.vec_id,
         round(CAST(list_sum(list_transform(list_zip(q.qq, c.q),
                    z -> CAST(z[1] AS BIGINT) * z[2])) AS BIGINT)
               / (sqrt(CAST(q.qn2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))),
               4) AS cosine
  FROM queries q JOIN corpus c ON c.vec_id != q.query_id),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def q73_rolling_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (rolling Rabin-Karp k-gram hashes +
    per-window minima, k=8 / w=4). The oracle recomputes the polynomial
    through HUGEINT + a relational window-min — value-gating the hash
    arithmetic, the packing, and the window-selection rule in one hash."""
    return text.rolling_fingerprints(_t(spark, sf_dir, "documents"))


# Winnowing CTE chain shared by Q73 (fingerprint table) and Q74
# (containment pairs); ``fpx`` is the distinct (doc_id, fp_pos, fp_hash)
# selection — the relational twin of text.rolling_fingerprints.
_WINNOW_SQL = r"""
g AS (
  SELECT doc_id, i - 1 AS p,
         CAST((  ascii(substr(lower(text), i,     1))::HUGEINT * 74051159531521793
               + ascii(substr(lower(text), i + 1, 1))::HUGEINT * 288136807515649
               + ascii(substr(lower(text), i + 2, 1))::HUGEINT * 1121154893057
               + ascii(substr(lower(text), i + 3, 1))::HUGEINT * 4362470401
               + ascii(substr(lower(text), i + 4, 1))::HUGEINT * 16974593
               + ascii(substr(lower(text), i + 5, 1))::HUGEINT * 66049
               + ascii(substr(lower(text), i + 6, 1))::HUGEINT * 257
               + ascii(substr(lower(text), i + 7, 1))::HUGEINT
               ) % 1000000007 AS BIGINT) AS h
  FROM documents, UNNEST(range(1, length(text) - 6)) AS u(i)
  WHERE length(text) >= 8),
pk AS (
  SELECT doc_id, p, h * 2147483648 + p AS packed,
         count(*) OVER (PARTITION BY doc_id) AS m
  FROM g),
sel AS (
  SELECT doc_id, p, m,
         min(packed) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS v
  FROM pk),
fpx AS (
  SELECT DISTINCT doc_id,
         CAST(v % 2147483648 AS INT) AS fp_pos,
         v // 2147483648 AS fp_hash
  FROM sel WHERE p <= greatest(m - 4, 0))"""

Q73_SQL = "WITH " + _WINNOW_SQL + r"""
SELECT doc_id, fp_pos, fp_hash FROM fpx
"""


def q74_fingerprint_containment(spark, sf_dir):
    """MOSS-style copy detection: document pairs whose winnowing-
    fingerprint CONTAINMENT (shared / min per-doc count) >= 0.5 —
    the partial-copy axis resemblance metrics (q25/q68) miss. The oracle
    recomputes the full chain (polynomial hash -> window minima -> hash-set
    self-join -> containment) relationally, value-gating the candidate
    equi-join's completeness and the scores in one hash."""
    return dedup.fingerprint_containment_pairs(_t(spark, sf_dir, "documents"))


Q74_SQL = "WITH " + _WINNOW_SQL + r""",
fp AS (SELECT DISTINCT doc_id, fp_hash FROM fpx),
sizes AS (SELECT doc_id, count(*) AS n_fp FROM fp GROUP BY doc_id),
rare AS (SELECT fp_hash FROM fp GROUP BY fp_hash HAVING count(*) <= 100),
cfp AS (SELECT fp.* FROM fp SEMI JOIN rare USING (fp_hash)),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM cfp x JOIN cfp y USING (fp_hash) WHERE x.doc_id < y.doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_shared
  FROM cand c
  JOIN fp fa ON c.doc_a = fa.doc_id
  JOIN fp fb ON c.doc_b = fb.doc_id AND fa.fp_hash = fb.fp_hash
  GROUP BY c.doc_a, c.doc_b)
SELECT doc_a, doc_b, n_shared,
       round(n_shared / least(za.n_fp, zb.n_fp), 6) AS containment
FROM inter
JOIN sizes za ON za.doc_id = inter.doc_a
JOIN sizes zb ON zb.doc_id = inter.doc_b
WHERE round(n_shared / least(za.n_fp, zb.n_fp), 6) >= 0.5
"""


def q69_simhash_near_dups(spark, sf_dir):
    """SimHash near-dup pairs at hamming <= 3, candidate-bucketed on four
    16-bit bands. The oracle is the ALL-PAIRS hamming filter over Q26's
    simhash values — equality with the bucketed operator doubles as the
    completeness proof of the banding (3 flipped bits touch at most 3 of
    the 4 bands, so every qualifying pair shares one)."""
    return dedup.simhash_near_dups(_t(spark, sf_dir, "documents"))


Q69_SQL = (
    "WITH shv AS (" + Q26_SQL + ")\n"
    "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,\n"
    "       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming\n"
    "FROM shv a JOIN shv b ON a.doc_id < b.doc_id\n"
    "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3\n")


def q70_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs, LSH-bucketed (share a 6-plane sign
    bucket, exact cosine >= 0.4 — the synthetic embeddings are isotropic,
    max pair cosine 0.51, so a production-style 0.97 would be vacuously
    empty). Oracle: the SAME md5-derived hyperplanes rendered as DOUBLE
    literals into DuckDB, sign-bucket equi-self-join, list_cosine_similarity
    at 4 dp — value-gating both the bucketing and the scores."""
    return similarity.embedding_near_dups(
        _t(spark, sf_dir, "embeddings"), dim=64, threshold=0.4, n_planes=6)


def _q70_sql() -> str:
    from ..analytics.similarity import _hyperplane

    bits = ",".join(
        "CASE WHEN list_dot_product(embedding::DOUBLE[], [{c}]) >= 0 "
        "THEN '1' ELSE '0' END".format(
            c=",".join(repr(x) for x in _hyperplane(64, p)))
        for p in range(6))
    return (
        "WITH bk AS (SELECT vec_id, embedding, concat(" + bits + ") AS bucket"
        " FROM embeddings)\n"
        "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,\n"
        "       round(list_cosine_similarity(a.embedding::DOUBLE[],\n"
        "             b.embedding::DOUBLE[]), 4) AS cosine\n"
        "FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id\n"
        "WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],\n"
        "            b.embedding::DOUBLE[]), 4) >= 0.4\n")


Q70_SQL = _q70_sql()


def q52_validate_profiles(spark, sf_dir):
    """S10 Ajv-validator twin (lib/validator.js:38-65 / schema.yml) over
    the extraction corpus. Oracle: the synthetic corpus is closed-form —
    status is 'Insolvenz' iff i%17==0 (fixtures.py:120) and every OTHER
    schema rule holds for every synthetic record, so valid/errors reduce
    to the status-pattern rule; any spurious firing of any other rule on
    any doc breaks the value hash."""
    from ..operators.validate import validate_profiles

    recs = X.extract_records(X.docs_dataframe(spark, EXTRACT_N_DOCS))
    v = validate_profiles(recs)
    return v.select(
        "doc_id", "valid",
        F.size("errors").alias("n_errors"),
        F.array_join("errors", "; ").alias("errors_joined"))


Q52_SQL = f"""
WITH base AS (SELECT i, {_DOCID_SQL} AS doc_id {_RANGE_SQL})
SELECT doc_id, (i % 17 = 0) AS valid,
       CAST(CASE WHEN i % 17 = 0 THEN 0 ELSE 1 END AS INT) AS n_errors,
       CASE WHEN i % 17 = 0 THEN '' ELSE 'status pattern' END AS errors_joined
FROM base
"""


# ---------------------------------------------------------------------------
# extraction over the synthetic spans corpus (oracle = closed-form arithmetic)
# ---------------------------------------------------------------------------


def _records(spark, n_docs=EXTRACT_N_DOCS):
    return X.extract_records(X.docs_dataframe(spark, n_docs))


def q30_extract_profile(spark, sf_dir):
    return _records(spark).select("doc_id", "name", "wkn", "status",
                                  "established_year", "city")


_STEMS_SQL = "['" + "','".join(fixtures._COMPANY_STEMS) + "']"
_CITIES_SQL = "['" + "','".join(fixtures._CITIES) + "']"

Q30_SQL = f"""
SELECT printf('%d/%04d', 1999 + (i % 7), i) AS doc_id,
       {_STEMS_SQL}[(i % 26) + 1] || printf(' %04d', i) ||
         CASE WHEN i % 3 = 0 THEN ' International AG' ELSE ' AG' END AS name,
       CAST(500000 + (i * 37) % 400000 AS VARCHAR) AS wkn,
       CASE WHEN i % 17 = 0 THEN 'Insolvenz' ELSE 'aktiv' END AS status,
       CAST(1870 + (i * 11) % 130 AS INT) AS established_year,
       {_CITIES_SQL}[(i % 12) + 1] AS city
FROM UNNEST(range(0, {EXTRACT_N_DOCS})) AS t(i)
"""

_FIRST_SQL = "['" + "','".join(fixtures._FIRST) + "']"
_LAST_SQL = "['" + "','".join(fixtures._LAST) + "']"
_TITLES_SQL = "['Dr.','Prof. Dr.','WP','']"


def q31_extract_aufsichtsrat(spark, sf_dir):
    recs = _records(spark)
    return (recs.select("doc_id", F.posexplode("aufsichtsrat").alias("k", "m"))
            .select("doc_id", "k",
                    F.coalesce(F.col("m.title"), F.lit("")).alias("title"),
                    F.col("m.firstName").alias("first_name"),
                    F.col("m.lastName").alias("last_name"),
                    F.coalesce(F.col("m.funct"), F.lit("")).alias("funct"),
                    F.col("m.cityAcc").alias("city")))


Q31_SQL = f"""
SELECT printf('%d/%04d', 1999 + (i % 7), i) AS doc_id,
       k,
       {_TITLES_SQL}[((i + k) % 4) + 1] AS title,
       {_FIRST_SQL}[((i * 3 + k) % 8) + 1] AS first_name,
       {_LAST_SQL}[((i * 5 + k * 2) % 8) + 1] AS last_name,
       CASE WHEN k = 0 THEN 'Vors.' WHEN k = 1 THEN 'stellv. Vors.'
            ELSE '' END AS funct,
       {_CITIES_SQL}[((i + k * 3) % 12) + 1] AS city
FROM UNNEST(range(0, {EXTRACT_N_DOCS})) AS t(i),
     UNNEST(range(0, 3)) AS u(k)
"""


def q32_extract_organbezuege(spark, sf_dir):
    recs = _records(spark)
    return (recs.select("doc_id", F.explode("organbezuege").alias("o"))
            .select("doc_id", F.col("o.jahr").alias("jahr"),
                    F.col("o.organ").alias("organ"),
                    F.col("o.bezuege").alias("bezuege")))


Q32_SQL = f"""
WITH base AS (
  SELECT i, printf('%d/%04d', 1999 + (i % 7), i) AS doc_id,
         CAST(1999 + (i % 7) AS VARCHAR) AS jahr
  FROM UNNEST(range(0, {EXTRACT_N_DOCS})) AS t(i))
SELECT doc_id, jahr, 'Vorstand' AS organ,
       'TEUR ' || CAST(100 + i % 900 AS VARCHAR) AS bezuege FROM base
UNION ALL
SELECT doc_id, jahr, 'Aufsichtsrat' AS organ,
       'TEUR ' || CAST(10 + i % 90 AS VARCHAR) AS bezuege FROM base
"""


def q33_spans_stats(spark, sf_dir):
    docs = X.docs_dataframe(spark, EXTRACT_N_DOCS)
    sv = X.spans_view(docs)
    return (sv.groupBy("doc_id")
            .agg(F.count("*").alias("n_spans"),
                 F.sum(F.when(F.col("kind") == "media", 1).otherwise(0))
                 .alias("n_media"),
                 F.max("offset").alias("max_offset")))


# the synthesis rule is line-count-closed-form: one text span per line, one
# media span per <img> (exactly 1/doc), so the span stats reduce to the
# per-variant line-count model below (verified exact for 2000 docs in the
# fixture tests)
Q33_SQL = f"""
WITH base AS (SELECT i, {_DOCID_SQL} AS doc_id {_RANGE_SQL}),
nl AS (
  SELECT doc_id,
         93
         + CASE WHEN i % 9 = 4 THEN 3 ELSE 0 END   -- multi-Sitz
         + CASE WHEN i % 11 = 5 THEN 4 ELSE 0 END  -- Anteilseigner
         + CASE WHEN i % 8 = 5 THEN 4 ELSE 0 END   -- Public Relations
         + CASE WHEN i % 8 = 3 THEN 3 ELSE 0 END   -- Leitung Kommunikation
         + CASE WHEN i % 6 = 1 THEN 8 ELSE 0 END   -- genehmigtes Kapital
         + CASE WHEN i % 6 = 3 THEN 8 ELSE 0 END   -- bedingtes Kapital
         + CASE WHEN i % 12 = 7 THEN 9 ELSE 0 END  -- bes. Bezugsrechte
         + CASE WHEN i % 12 = 11 THEN 7 ELSE 0 END -- Erm. Aktienerwerb
         + CASE WHEN i % 15 = 8 THEN 9 ELSE 0 END  -- Entwicklung Genußkapital
         + CASE WHEN i % 15 = 4 THEN 8 ELSE 0 END  -- genehm. Genußkapital
         + CASE WHEN i % 15 = 11 THEN 8 ELSE 0 END -- derzeitiges Genußkapital
         + CASE WHEN i % 12 = 6 THEN 10 ELSE 0 END -- Kapitalangaben section
         + CASE WHEN i % 5 = 0 THEN 5 ELSE 0 END   -- 2nd exchange listing
         + CASE WHEN i % 2 = 0 THEN
             15 + CASE WHEN i % 8 = 2 THEN 9 ELSE 8 END  -- Dividenden + Ergebnis
           ELSE 0 END
         + CASE WHEN i % 3 = 0 THEN 19 ELSE 0 END  -- Kennzahlen
         + CASE WHEN i % 4 = 0 THEN 8 ELSE 0 END   -- Bilanzen
         + CASE WHEN i % 4 = 2 THEN 7 ELSE 0 END   -- GuV
         AS n_lines
  FROM base)
SELECT doc_id, CAST(n_lines + 1 AS BIGINT) AS n_spans,
       CAST(1 AS BIGINT) AS n_media,
       CAST(n_lines - 1 AS INT) AS max_offset
FROM nl
"""


def q34_extract_kurse(spark, sf_dir):
    recs = _records(spark)
    return (recs.select("doc_id", F.explode("kurse").alias("k"))
            .select("doc_id", F.col("k.jahr").alias("jahr"),
                    F.col("k.hoechst").alias("hoechst"),
                    F.col("k.tiefst").alias("tiefst"),
                    F.col("k.ultimo").alias("ultimo")))


Q34_SQL = f"""
WITH base AS (
  SELECT i, printf('%d/%04d', 1999 + (i % 7), i) AS doc_id,
         1999 + (i % 7) AS y
  FROM UNNEST(range(0, {EXTRACT_N_DOCS})) AS t(i))
SELECT doc_id, CAST(y AS VARCHAR) AS jahr,
       printf('%d,%02d', 10 + i % 80, i % 100) AS hoechst,
       printf('%d,%02d', 1 + i % 9, i % 100) AS tiefst,
       printf('%d,%02d', 2 + i % 9, i % 100) AS ultimo
FROM base
UNION ALL
SELECT doc_id, CAST(y + 1 AS VARCHAR) AS jahr,
       printf('%d,%02d', 5 + i % 40, (i * 3) % 100) AS hoechst,
       printf('%d,%02d', 1 + i % 5, (i * 7) % 100) AS tiefst,
       printf('%d,%02d', 2 + i % 5, (i * 9) % 100) AS ultimo
FROM base
"""




def q35_lineage_counts(spark, sf_dir):
    """A1 call-count plane. The oracle is the closed-form dispatch model of
    the synthetic corpus — any drift in matcher firing (the reference's
    callCounter smoke signal, lib/callCounter.js:43-46) breaks the hash."""
    recs = _records(spark)
    return (X.metrics_table(recs)
            .groupBy("category")
            .agg(F.sum("call_count").alias("total_calls"),
                 F.count("*").alias("n_docs")))


Q35_SQL = f"""
WITH base AS (SELECT i {_RANGE_SQL}),
cats AS (
  SELECT 'name' AS category, count(*) AS total_calls, count(*) AS n_docs FROM base
  UNION ALL SELECT 'Sitz', count(*), count(*) FROM base
  UNION ALL SELECT 'Tätigkeitsgebiet', count(*), count(*) FROM base
  UNION ALL SELECT 'Gründung', count(*), count(*) FROM base
  UNION ALL SELECT 'Status', count(*), count(*) FROM base
  UNION ALL SELECT 'Aufsichtsrat', count(*), count(*) FROM base
  UNION ALL SELECT 'Vorstand', count(*), count(*) FROM base
  UNION ALL SELECT 'Organbezüge', count(*), count(*) FROM base
  UNION ALL SELECT 'Gesellschafter', count(*), count(*) FROM base
  UNION ALL SELECT 'Beteiligungen', count(*), count(*) FROM base
  UNION ALL SELECT 'Kurse', count(*), count(*) FROM base
  -- swallowed by the 2nd exchange segment on odd non-Kennzahlen i%5 docs
  UNION ALL SELECT 'Sonstige Angaben', count(*), count(*) FROM base
            WHERE NOT (i % 5 = 0 AND i % 2 = 1 AND i % 3 <> 0)
  -- multi-exchange docs fire the head matcher twice (callnumber 2)
  UNION ALL SELECT 'Börsenbewertung',
            count(*) + sum(CASE WHEN i % 5 = 0 THEN 1 ELSE 0 END),
            count(*) FROM base
  -- the Kapitalangaben section re-enters the kapital matcher
  UNION ALL SELECT 'Kapitalentwicklung',
            count(*) + sum(CASE WHEN i % 12 = 6 THEN 1 ELSE 0 END),
            count(*) FROM base
  UNION ALL SELECT 'Dividenden', count(*), count(*) FROM base WHERE i % 2 = 0
  -- the table-start repair path re-enters the matcher (two calls per doc)
  UNION ALL SELECT 'Ergebnisabführung',
            sum(CASE WHEN i % 8 = 2 THEN 2 ELSE 1 END), count(*)
            FROM base WHERE i % 2 = 0
  UNION ALL SELECT 'Kennzahlen', count(*), count(*) FROM base WHERE i % 3 = 0
  UNION ALL SELECT 'Aus den Bilanzen', count(*), count(*) FROM base WHERE i % 4 = 0
  UNION ALL SELECT 'Aus Gewinn und Verlust', count(*), count(*) FROM base WHERE i % 4 = 2
  UNION ALL SELECT 'Anteilseigner', count(*), count(*) FROM base WHERE i % 11 = 5
  UNION ALL SELECT 'Leitung Kommunikation', count(*), count(*) FROM base WHERE i % 8 = 3
  UNION ALL SELECT 'Public Relations', count(*), count(*) FROM base WHERE i % 8 = 5
)
SELECT category, CAST(total_calls AS BIGINT) AS total_calls,
       CAST(n_docs AS BIGINT) AS n_docs
FROM cats
"""


# ---------------------------------------------------------------------------
# table-extractor oracles (E21-E28 family; closed-form over the synthetic
# corpus arithmetic in fixtures.synth_html)
# ---------------------------------------------------------------------------



def q36_extract_dividenden(spark, sf_dir):
    """E24 dividend pivot (ref lib/parser_tables.js:1093-1258)."""
    recs = _records(spark)
    return (recs.select("doc_id", F.explode("dividenden").alias("d"))
            .select("doc_id", F.col("d.jahr").alias("jahr"),
                    F.col("d.dividende").alias("dividende"),
                    F.col("d.bonus").alias("bonus")))


Q36_SQL = f"""
WITH base AS (
  SELECT i, {_DOCID_SQL} AS doc_id, 1999 + (i % 7) AS y
  {_RANGE_SQL} WHERE i % 2 = 0)
SELECT doc_id, CAST(y AS VARCHAR) AS jahr,
       'eur ' || CAST(i % 4 AS VARCHAR) AS dividende, '-' AS bonus FROM base
UNION ALL
SELECT doc_id, CAST(y + 1 AS VARCHAR) AS jahr,
       'eur ' || CAST((i + 1) % 4 AS VARCHAR) AS dividende, '-' AS bonus FROM base
"""


def q37_extract_kennzahlen(spark, sf_dir):
    """E26 dynamic kennzahlen pivot (ref lib/parser_tables.js:1368-1712);
    the MapType keys are relationalized to (kopfzeile, jahr, name, value)."""
    recs = _records(spark)
    return (recs.select("doc_id", F.explode("kennzahlen_rows").alias("k"))
            .select("doc_id", F.col("k.kopfzeile").alias("kopfzeile"),
                    F.col("k.jahr").alias("jahr"),
                    F.col("k.name").alias("name"),
                    F.col("k.value").alias("value")))


Q37_SQL = f"""
WITH base AS (
  SELECT i, {_DOCID_SQL} AS doc_id, 1999 + (i % 7) AS y
  {_RANGE_SQL} WHERE i % 3 = 0)
SELECT doc_id, 'Konzern' AS kopfzeile, CAST(y AS VARCHAR) AS jahr,
       'Investitionen (Mio EUR)' AS name,
       printf('%d,%d', i % 9, i % 10) AS value FROM base
UNION ALL
SELECT doc_id, 'Konzern', CAST(y AS VARCHAR),
       'Eigenkapitalquote (%)', printf('%d,%d', 20 + i % 60, i % 10) FROM base
UNION ALL
SELECT doc_id, 'Konzern', CAST(y + 1 AS VARCHAR),
       'Investitionen (Mio EUR)', printf('%d,%d', (i + 3) % 9, i % 10) FROM base
UNION ALL
SELECT doc_id, 'Konzern', CAST(y + 1 AS VARCHAR),
       'Eigenkapitalquote (%)', printf('%d,%d', 20 + (i + 7) % 60, i % 10) FROM base
"""


def q38_extract_bilanzen(spark, sf_dir):
    """E27 balance-sheet pivot (ref lib/parser_tables.js:1855-2318)."""
    recs = _records(spark)
    return (recs.select("doc_id", F.explode("bilanzen_rows").alias("b"))
            .select("doc_id", F.col("b.gruppe").alias("gruppe"),
                    F.col("b.jahr").alias("jahr"),
                    F.col("b.name").alias("name"),
                    F.col("b.value").alias("value"),
                    F.col("b.waehrung").alias("waehrung")))


Q38_SQL = f"""
WITH base AS (
  SELECT i, {_DOCID_SQL} AS doc_id, 1999 + (i % 7) AS y
  {_RANGE_SQL} WHERE i % 4 = 0)
SELECT doc_id, 'Aktiva' AS gruppe, CAST(y AS VARCHAR) AS jahr,
       'anlagevermögen' AS name, CAST(1000 + i AS VARCHAR) AS value,
       'in TEUR' AS waehrung FROM base
UNION ALL
SELECT doc_id, 'Aktiva', CAST(y AS VARCHAR), 'vorräte',
       CAST(500 + i AS VARCHAR), 'in TEUR' FROM base
UNION ALL
SELECT doc_id, 'Aktiva', CAST(y + 1 AS VARCHAR), 'anlagevermögen',
       CAST(1100 + i AS VARCHAR), 'in TEUR' FROM base
UNION ALL
SELECT doc_id, 'Aktiva', CAST(y + 1 AS VARCHAR), 'vorräte',
       CAST(600 + i AS VARCHAR), 'in TEUR' FROM base
"""


def q39_extract_guv(spark, sf_dir):
    """E28 P&L pivot (ref lib/parser_tables.js:2319-2566)."""
    recs = _records(spark)
    return (recs.select("doc_id", F.explode("guv_rows").alias("g"))
            .select("doc_id", F.col("g.jahr").alias("jahr"),
                    F.col("g.name").alias("name"),
                    F.col("g.value").alias("value"),
                    F.col("g.waehrung").alias("waehrung")))


Q39_SQL = f"""
WITH base AS (
  SELECT i, {_DOCID_SQL} AS doc_id, 1999 + (i % 7) AS y
  {_RANGE_SQL} WHERE i % 4 = 2)
SELECT doc_id, CAST(y AS VARCHAR) AS jahr, 'umsatz' AS name,
       CAST(5000 + i AS VARCHAR) AS value, 'in TEUR' AS waehrung FROM base
UNION ALL
SELECT doc_id, CAST(y AS VARCHAR), 'jahresergebnis',
       CAST(200 + i AS VARCHAR), 'in TEUR' FROM base
UNION ALL
SELECT doc_id, CAST(y + 1 AS VARCHAR), 'umsatz',
       CAST(5100 + i AS VARCHAR), 'in TEUR' FROM base
UNION ALL
SELECT doc_id, CAST(y + 1 AS VARCHAR), 'jahresergebnis',
       CAST(220 + i AS VARCHAR), 'in TEUR' FROM base
"""


def q42_extract_kapital(spark, sf_dir):
    """E21 kapital family, long format (ref lib/parser_tables.js:113-1080)."""
    recs = _records(spark)
    return (recs.select("doc_id", F.explode("kapital_rows").alias("k"))
            .select("doc_id", F.col("k.komponente").alias("komponente"),
                    F.col("k.jahr").alias("jahr"),
                    F.col("k.art").alias("art"),
                    F.col("k.betrag").alias("betrag"),
                    F.col("k.text").alias("text")))


Q42_SQL = f"""
WITH base AS (
  SELECT i, {_DOCID_SQL} AS doc_id, 1999 + (i % 7) AS y
  {_RANGE_SQL})
SELECT doc_id, 'kapitalEntwicklung' AS komponente, CAST(y AS VARCHAR) AS jahr,
       'Gründungskapital' AS art,
       printf('DM %d 000 000,00', 1 + i % 9) AS betrag, 'der AG' AS text
FROM base
UNION ALL
SELECT doc_id, 'grundkapital', NULL, NULL,
       printf('EUR %d 000 000,00', 2 + i % 8), 'Inhaber-Stammaktien' FROM base
UNION ALL
SELECT doc_id, 'stueckelung', NULL, NULL, NULL,
       printf('%d 000 000 Stückaktien o.N.', 2 + i % 8) FROM base
UNION ALL
SELECT doc_id, 'stimmrecht', NULL, NULL, NULL,
       ' Je Stückaktie = 1 Stimme' FROM base
UNION ALL
SELECT doc_id, 'genehmigtesKapital', NULL, NULL,
       printf('EUR %d 000 000,00', 1 + i % 5),
       printf('Gem. HV vom %d.0%d.%d gegen Bar- oder Sacheinlagen',
              1 + i % 27, 1 + i % 9, 2000 + i % 6)
FROM base WHERE i % 6 = 1
UNION ALL
SELECT doc_id, 'bedingtesKapital', NULL, NULL,
       printf('EUR %d 500 000,00', 1 + i % 4),
       printf('Wandelschuldverschreibungen gem. HV vom %d.0%d.%d',
              1 + i % 27, 1 + i % 9, 2000 + i % 6)
FROM base WHERE i % 6 = 3
UNION ALL
SELECT doc_id, 'besBezugsrechte', CAST(2000 + i % 6 AS VARCHAR), NULL, NULL,
       'Belegschaftsaktien zum Vorzugskurs' FROM base WHERE i % 12 = 7
UNION ALL
SELECT doc_id, 'ermaechtigungAktienerwerb', NULL, NULL, NULL,
       printf('Die HV vom %d.0%d.%d ermächtigt zum Erwerb eigener Aktien',
              1 + i % 27, 1 + i % 9, 2000 + i % 6)
FROM base WHERE i % 12 = 11
UNION ALL
SELECT doc_id, 'entwicklungGenusKapital', CAST(y AS VARCHAR), NULL, NULL,
       printf('Ausgabe von Genußscheinen über DM %d 000 000', 1 + i % 3)
FROM base WHERE i % 15 = 8
UNION ALL
SELECT doc_id, 'genehmigtesGenusKapital', NULL, NULL,
       printf('DM %d 500 000,00', 1 + i % 6),
       printf('Gem. HV vom %d.0%d.%d', 1 + i % 27, 1 + i % 9, 2000 + i % 6)
FROM base WHERE i % 15 = 4
UNION ALL
SELECT doc_id, 'derzeitigesGenusKapital', NULL, NULL,
       printf('DM %d 250 000,00', 2 + i % 5),
       'Genußscheine auf den Inhaber' FROM base WHERE i % 15 = 11
UNION ALL
SELECT doc_id, 'ausgegebenesKapital', NULL, 'Ausgegebenes Kapital',
       printf('EUR %d 200 000,00', 3 + i % 6), NULL FROM base WHERE i % 12 = 6
UNION ALL
SELECT doc_id, 'ausgegebenesKapital', NULL, NULL, NULL,
       printf('%d 200 000 Stückaktien o.N.', 3 + i % 6) FROM base WHERE i % 12 = 6
"""


def q43_extract_bb_head(spark, sf_dir):
    """E22 exchange-listing head with per-doc occurrence keying
    (ref lib/parser_boersenbewertung.js:19-147, lib/callCounter.js:52-54)."""
    recs = _records(spark)
    return (recs.select("doc_id", F.explode("bb_heads").alias("h"))
            .select("doc_id", F.col("h.callnumber").alias("callnumber"),
                    F.col("h.wkn").alias("wkn"),
                    F.col("h.wkn_art").alias("wkn_art"),
                    F.col("h.isin").alias("isin"),
                    F.col("h.isin_art").alias("isin_art")))


Q43_SQL = f"""
WITH base AS (
  SELECT i, {_DOCID_SQL} AS doc_id,
         500000 + (i * 37) % 400000 AS wkn
  {_RANGE_SQL})
SELECT doc_id, CAST(1 AS INT) AS callnumber, CAST(wkn AS VARCHAR) AS wkn,
       ' Inhaber-Stammaktien' AS wkn_art,
       printf('DE000%06d5', wkn) AS isin,
       'Inhaber-Stammaktien' AS isin_art
FROM base
UNION ALL
SELECT doc_id, CAST(2 AS INT), CAST(wkn + 1 AS VARCHAR), ' Vorzugsaktien',
       printf('DE000%06d5', wkn), 'Vorzugsaktien'
FROM base WHERE i % 5 = 0
"""


def q44_extract_ergebnisabfuehrung(spark, sf_dir):
    """E25 incl. the recursive table-start repair path
    (ref lib/parser_additions.js:37-110, lib/parser_tables.js:1298-1356)."""
    recs = _records(spark)
    return (recs.select("doc_id", F.explode("ergebnisabfuehrung").alias("e"))
            .select("doc_id", F.col("e.jahr").alias("jahr"),
                    F.col("e.betrag").alias("betrag")))


Q44_SQL = f"""
WITH base AS (
  SELECT i, {_DOCID_SQL} AS doc_id, 1999 + (i % 7) AS y
  {_RANGE_SQL} WHERE i % 2 = 0)
SELECT doc_id, CAST(y AS VARCHAR) AS jahr,
       'TEUR ' || CAST(300 + i AS VARCHAR) AS betrag FROM base
UNION ALL
SELECT doc_id, CAST(y + 1 AS VARCHAR),
       'TEUR ' || CAST(310 + i AS VARCHAR) FROM base
"""


def q45_extract_anteilseigner(spark, sf_dir):
    """E13 standalone Anteilseigner
    (ref lib/parser_aktionaer_eigner_beteiligungen.js:142-195)."""
    recs = _records(spark)
    return (recs.select("doc_id", F.explode("anteilseigner").alias("a"))
            .select("doc_id", F.col("a.eigner").alias("eigner"),
                    F.col("a.anteil").alias("anteil")))


Q45_SQL = f"""
WITH base AS (
  SELECT i, {_DOCID_SQL} AS doc_id {_RANGE_SQL} WHERE i % 11 = 5)
SELECT doc_id, 'Bund' AS eigner,
       CAST(30 + i % 40 AS VARCHAR) || '%' AS anteil FROM base
UNION ALL
SELECT doc_id, 'Land Bayern', CAST(15 + i % 30 AS VARCHAR) || '%' FROM base
"""


def q46_extract_sitz(spark, sf_dir):
    """E2 multi-seat address extraction (ref lib/parser.js:228-381,
    incl. the '<!-- weitere Sitze -->' second typed seat)."""
    recs = _records(spark)
    return (recs.select("doc_id", F.posexplode("sitz_all").alias("seat", "s"))
            .select("doc_id", "seat", F.col("s.typ").alias("typ"),
                    F.col("s.street").alias("street"),
                    F.col("s.street_number").alias("street_number"),
                    F.col("s.zip").alias("zip"),
                    F.col("s.city").alias("city")))


Q46_SQL = f"""
WITH base AS (SELECT i, {_DOCID_SQL} AS doc_id {_RANGE_SQL})
SELECT doc_id, 0 AS seat, 'Sitz' AS typ, 'Hauptstr.' AS street,
       CAST(1 + i % 99 AS VARCHAR) AS street_number,
       CAST(70000 + i % 9999 AS VARCHAR) AS zip,
       {_CITIES_SQL}[(i % 12) + 1] AS city
FROM base
UNION ALL
SELECT doc_id, 1, 'Zweigniederlassung', 'Nebenstr.',
       CAST(1 + (i * 3) % 50 AS VARCHAR),
       CAST(60000 + (i * 7) % 9000 AS VARCHAR),
       {_CITIES_SQL}[((i + 5) % 12) + 1]
FROM base WHERE i % 9 = 4
"""


def q47_unparsed_coverage(spark, sf_dir):
    """A4 validator coverage diff (ref lib/validator.js:21-58): share of the
    cleaned fulltext no extractor consumed. Oracle: the pinned table computed
    by the SEQUENTIAL local kernel (scripts/gen_pinned_oracles.py) — the
    driver gate verifies the distributed path (mapInArrow) against
    an independent in-process run; drift gate in
    tests/test_pinned_oracles.py, deep checks in tests/test_coverage.py."""
    recs = _records(spark)
    return recs.select(
        "doc_id", "unparsed_chars", "fulltext_chars",
        F.round(F.col("unparsed_chars") /
                F.greatest(F.col("fulltext_chars"), F.lit(1)), 6)
        .alias("unparsed_ratio"))


Q47_SQL = (
    "SELECT doc_id, CAST(unparsed_chars AS INT) AS unparsed_chars,\n"
    "       CAST(fulltext_chars AS INT) AS fulltext_chars,\n"
    "       CAST(unparsed_ratio AS DOUBLE) AS unparsed_ratio\n"
    "FROM (VALUES\n"
    + ",\n".join(f"  ('{d}', {u}, {f}, {r!r})"
                 for d, u, f, r in _pinned.Q47_EXPECTED)
    + "\n) AS t(doc_id, unparsed_chars, fulltext_chars, unparsed_ratio)"
)


def q48_ann_recall(spark, sf_dir):
    """ANN LSH scale path gated against the brute-force oracle: recall@5 per
    query. Oracle: pinned recall vector from the numpy twin of BOTH the
    brute-force top-k and the banded-LSH bucketing (md5 hyperplanes are
    engine-portable; scripts/gen_pinned_oracles.py). Valid at sf0.01 — the
    scale the driver runs oracles at; tests/test_analytics.py additionally
    asserts mean recall >= 0.8 as the semantic gate."""
    from ..analytics import similarity

    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ann_recall_vs_bruteforce(emb, EMB_QUERY_IDS, k=5)


Q48_SQL = (
    "SELECT CAST(query_id AS BIGINT) AS query_id,\n"
    "       CAST(recall AS DOUBLE) AS recall\n"
    "FROM (VALUES\n"
    + ",\n".join(f"  ({q}, {r!r})" for q, r in _pinned.Q48_EXPECTED)
    + "\n) AS t(query_id, recall)"
)




def q49_dup_clusters(spark, sf_dir):
    """Duplicate-cluster resolution: exact n-gram Jaccard pairs (>= 0.5,
    no stop-shingle cap so the SQL twin is closed-form) -> connected
    components via iterative min-label propagation -> (cluster_id,
    cluster_size, is_canonical). The keep/drop list every dedup pipeline
    ends with; oracle = DuckDB recursive CTE over the same pairs."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_doc_freq=None)
    return dedup.dup_clusters(pairs)


Q49_SQL = (r"""
WITH RECURSIVE""" + _SHINGLE_SQL.replace("\n  toks", "\n  toks", 1) + r""",
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM sh x JOIN sh y USING (shingle) WHERE x.doc_id < y.doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN sh sa ON c.doc_a = sa.doc_id
  JOIN sh sb ON c.doc_b = sb.doc_id AND sa.shingle = sb.shingle
  GROUP BY c.doc_a, c.doc_b),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes za ON za.doc_id = inter.doc_a
  JOIN sizes zb ON zb.doc_id = inter.doc_b
  WHERE round(n_common / (za.n_sh + zb.n_sh - n_common), 6) >= 0.5),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
walk(doc_id, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.doc_id),
labels AS (SELECT doc_id, min(label) AS cluster_id FROM walk GROUP BY doc_id),
csizes AS (SELECT cluster_id, count(*) AS cluster_size
           FROM labels GROUP BY cluster_id)
SELECT l.doc_id, l.cluster_id, CAST(c.cluster_size AS BIGINT) AS cluster_size,
       l.doc_id = l.cluster_id AS is_canonical
FROM labels l JOIN csizes c USING (cluster_id)
""")


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# oracles rendered from pinned tables computed over the sf0.01 parquet —
# the scale the driver's correctness gate runs at; local parity tests must
# run these at sf0.01 too (the other pinned query, q47, is sf-independent:
# its corpus is the fixed 40-doc synthetic set)
PINNED_SF01 = {"q29_lse_grouped", "q48_ann_recall", "q50_lse_coupled",
               "q65_ivf_recall", "q94_learn_bpe", "q96_kmeans_int8",
               "q97_bpe_tokenize_corpus",
               "q101_ivf_int8_recall",
               "q105_semdedup",
               # sf0.01-pinned additions: q108 splices the pinned
               # semdedup removal set into its oracle; q110/q112 pin
               # PQ / IVF-PQ recall vectors computed at sf0.01
               "q108_curated_semantic_mix",
               "q110_pq_recall",
               "q112_ivfpq_recall"}


def q65_ivf_recall(spark, sf_dir):
    """IVF (inverted-file) ANN scale path gated against the brute-force
    oracle: recall@5 per query with the default 16-list / 3-assignment /
    4-probe config (multi-assignment is the recall lever — single-assignment
    IVF caps near 0.5 on these isotropic embeddings). Oracle: pinned recall
    vector from the numpy twin of the sampling quantizer + multi-assignment
    probe (scripts/gen_pinned_oracles.py q65_rows). Valid at sf0.01 — the
    scale the driver runs oracles at; tests/test_analytics.py additionally
    asserts mean recall >= 0.8 as the semantic gate."""
    from ..analytics import similarity

    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_recall_vs_bruteforce(emb, EMB_QUERY_IDS, k=5)


Q65_SQL = (
    "SELECT CAST(query_id AS BIGINT) AS query_id,\n"
    "       CAST(recall AS DOUBLE) AS recall\n"
    "FROM (VALUES\n"
    + ",\n".join(f"  ({q}, {r!r})" for q, r in _pinned.Q65_EXPECTED)
    + "\n) AS t(query_id, recall)"
)

def q53_extract_vorstand(spark, sf_dir):
    """E12 multi-person Vorstand extractor end-to-end over the distributed
    corpus (ref lib/parser_persons.js:369-452): person k of the synthetic
    board is _person(i, 3 + k) — posexplode pins position AND values."""
    recs = _records(spark)
    return (recs.select("doc_id", F.posexplode("vorstand").alias("k", "m"))
            .select("doc_id", "k",
                    F.coalesce(F.col("m.title"), F.lit("")).alias("title"),
                    F.col("m.firstName").alias("first_name"),
                    F.col("m.lastName").alias("last_name"),
                    F.coalesce(F.col("m.funct"), F.lit("")).alias("funct"),
                    F.col("m.cityAcc").alias("city")))


Q53_SQL = f"""
SELECT {_DOCID_SQL} AS doc_id,
       k,
       {_TITLES_SQL}[((i + k + 3) % 4) + 1] AS title,
       {_FIRST_SQL}[((i * 3 + k + 3) % 8) + 1] AS first_name,
       {_LAST_SQL}[((i * 5 + (k + 3) * 2) % 8) + 1] AS last_name,
       '' AS funct,
       {_CITIES_SQL}[((i + (k + 3) * 3) % 12) + 1] AS city
FROM UNNEST(range(0, {EXTRACT_N_DOCS})) AS t(i),
     UNNEST(range(0, 2)) AS u(k)
"""


def q54_extract_beteiligungen(spark, sf_dir):
    """E14 participations extractor end-to-end (ref
    lib/parser_aktionaer_eigner_beteiligungen.js:207-290,490-528): each
    row's beteiliger/ort/anteil re-derived in closed form from the
    fixture's target function (the crawl graph's out-links)."""
    recs = _records(spark)
    return (recs.select("doc_id", F.explode("beteiligungen").alias("b"))
            .select("doc_id",
                    F.col("b.ueberschrift").alias("gruppe"),
                    F.col("b.beteiliger").alias("beteiliger"),
                    F.coalesce(F.col("b.ort"), F.lit("")).alias("ort"),
                    F.coalesce(F.col("b.anteil"), F.lit("")).alias("anteil")))


Q54_SQL = f"""
WITH tgt AS (
  SELECT i, ((i * 7 + j * 13 + 1) % {EXTRACT_N_DOCS}) AS t
  FROM UNNEST(range(0, {EXTRACT_N_DOCS})) AS a(i),
       UNNEST(range(0, 5)) AS b(j)
  WHERE j < 2 + i % 3 AND ((i * 7 + j * 13 + 1) % {EXTRACT_N_DOCS}) <> i)
SELECT {_DOCID_SQL} AS doc_id,
       'Wesentliche Unternehmensbeteiligungen' AS gruppe,
       {_STEMS_SQL}[(t % 26) + 1] || printf(' %04d', t) ||
         CASE WHEN t % 3 = 0 THEN ' International AG' ELSE ' AG' END
         AS beteiliger,
       {_CITIES_SQL}[(t % 12) + 1] AS ort,
       CAST(50 + t % 50 AS VARCHAR) || '%' AS anteil
FROM tgt
"""


def q55_extract_aktionaer(spark, sf_dir):
    """E15 shareholders (Gesellschafter/Aktionäre) extractor end-to-end
    (ref lib/parser_aktionaer_eigner_beteiligungen.js:26-128): the family
    holder carries an ort, Streubesitz does not."""
    recs = _records(spark)
    return (recs.select("doc_id", F.explode("aktionaer").alias("a"))
            .select("doc_id", F.col("a.name").alias("name"),
                    F.coalesce(F.col("a.ort"), F.lit("")).alias("ort"),
                    F.col("a.anteil").alias("anteil")))


Q55_SQL = f"""
WITH base AS (SELECT i, {_DOCID_SQL} AS doc_id {_RANGE_SQL})
SELECT doc_id, 'Familie ' || {_LAST_SQL}[(i % 8) + 1] AS name,
       {_CITIES_SQL}[(i % 12) + 1] AS ort,
       printf('%d,%02d%%', 10 + i % 40, i % 100) AS anteil
FROM base
UNION ALL
SELECT doc_id, 'Streubesitz' AS name, '' AS ort,
       printf('%d,%02d%%', 50 + i % 40, (100 - i) % 100) AS anteil
FROM base
"""


def q56_extract_activity(spark, sf_dir):
    """E3 activity description (ref lib/parser.js:387-417): accumulate
    until the next centered headline, <br> -> newline."""
    recs = _records(spark)
    return recs.select("doc_id", "activity_description")


_ACTIVITIES_SQL = "['" + "','".join(fixtures._ACTIVITIES) + "']"

Q56_SQL = f"""
SELECT {_DOCID_SQL} AS doc_id,
       {_ACTIVITIES_SQL}[(i % 4) + 1] || '.' || chr(10)
         AS activity_description
{_RANGE_SQL}
"""


def q57_extract_leitung_kommunikation(spark, sf_dir):
    """E10 Leitung Kommunikation (ref lib/parser.js:707-738,
    lib/parser_persons.js:460-529): phone split off via the from-to
    matcher, remainder person-parsed."""
    recs = _records(spark)
    return (recs.select("doc_id", F.explode("leitung_kommunikation")
                        .alias("p"))
            .select("doc_id", F.col("p.firstname").alias("firstname"),
                    F.col("p.lastname").alias("lastname"),
                    F.col("p.phone").alias("phone")))


Q57_SQL = f"""
WITH base AS (SELECT i, {_DOCID_SQL} AS doc_id {_RANGE_SQL}
              WHERE i % 8 = 3)
SELECT doc_id, {_FIRST_SQL}[((i + 1) % 8) + 1] AS firstname,
       {_LAST_SQL}[((i + 2) % 8) + 1] AS lastname,
       '0' || CAST(i % 97 AS VARCHAR) || '-11' AS phone
FROM base
"""


def q58_extract_public_relations(spark, sf_dir):
    """E20 Public Relations (ref lib/parser.js:895-943,
    lib/parser_persons.js:276-367): '; Fax' glue repair, split ';',
    telefon via matchFromStringToString, name = rest."""
    recs = _records(spark)
    return (recs.select("doc_id", F.explode("public_relations").alias("p"))
            .select("doc_id", F.col("p.name").alias("name"),
                    F.col("p.telefon").alias("telefon")))


Q58_SQL = f"""
WITH base AS (SELECT i, {_DOCID_SQL} AS doc_id {_RANGE_SQL}
              WHERE i % 8 = 5)
SELECT doc_id, {_FIRST_SQL}[8] || ' ' || {_LAST_SQL}[1] AS name,
       printf('(071%02d) 22-0', i % 90) AS telefon
FROM base
"""


# --- E9/E19 mini-corpus: the shared corpus has no Geschäftsleitung /
# Unternehmensverträge sections, so these two queries synthesize their own
# deterministic docs (same distributed spans construction) and run the
# SAME extraction operator over them.

E9_N_DOCS = 24


def _e9_doc_id(i: int) -> str:
    return f"uv/{i:04d}"


def _e9_html(i: int) -> str:
    fx = fixtures
    t = fx._TITLES[i % 4]
    persons = [f"{(t + ' ') if t else ''}{fx._FIRST[i % 8]} "
               f"{fx._LAST[(i * 3) % 8]}, {fx._CITIES[i % 12]}"]
    if i % 2 == 0:
        persons.append(f"{fx._FIRST[(i + 1) % 8]} "
                       f"{fx._LAST[(i * 3 + 2) % 8]}, "
                       f"{fx._CITIES[(i + 5) % 12]}")
    contracts = [f"Beherrschungsvertrag mit der "
                 f"{fx._COMPANY_STEMS[i % 26]} Holding AG"]
    if i % 3 == 0:
        contracts.append(f"Gewinnabführungsvertrag seit {1990 + i % 10}")
    return "\n".join([
        "<html><head></head><body>",
        f"<center><b>{fx.company_name(i)}</b></center>",
        "<b>Geschäftsleitung:</b><br>",
        "; ".join(persons) + "<br>",
        "<br><center><h5><table><tr>",
        '<td align="center"><b>Unternehmensverträge</b></td></tr>'
        "</table></h5></center>",
        "<br>".join(contracts),
        "",
        "<br><center><h5><table><tr>",
        '<td align="center"><b>Sonstige Angaben</b></td></tr>'
        "</table></h5></center>",
        "<b>Geschäftsjahr: </b>Kalenderjahr<br>",
        "</body></html>"])


def _e9_records(spark):
    return X.extract_records(
        X.docs_from_synth(spark, E9_N_DOCS, _e9_html, _e9_doc_id))


def q59_extract_geschleitung(spark, sf_dir):
    """E9 Geschäftsleitung (ref lib/parser.js:743-777): semicolon split +
    person-parse, run distributed over the E9/E19 mini-corpus."""
    return (_e9_records(spark)
            .select("doc_id", F.posexplode("geschleitung").alias("k", "m"))
            .select("doc_id", "k",
                    F.coalesce(F.col("m.title"), F.lit("")).alias("title"),
                    F.col("m.firstName").alias("first_name"),
                    F.col("m.lastName").alias("last_name"),
                    F.col("m.cityAcc").alias("city")))


_E9_DOCID_SQL = "printf('uv/%04d', i)"

Q59_SQL = f"""
WITH base AS (SELECT i FROM UNNEST(range(0, {E9_N_DOCS})) AS t(i))
SELECT {_E9_DOCID_SQL} AS doc_id, 0 AS k,
       {_TITLES_SQL}[(i % 4) + 1] AS title,
       {_FIRST_SQL}[(i % 8) + 1] AS first_name,
       {_LAST_SQL}[((i * 3) % 8) + 1] AS last_name,
       {_CITIES_SQL}[(i % 12) + 1] AS city
FROM base
UNION ALL
SELECT {_E9_DOCID_SQL} AS doc_id, 1 AS k,
       '' AS title,
       {_FIRST_SQL}[((i + 1) % 8) + 1] AS first_name,
       {_LAST_SQL}[((i * 3 + 2) % 8) + 1] AS last_name,
       {_CITIES_SQL}[((i + 5) % 12) + 1] AS city
FROM base WHERE i % 2 = 0
"""


def q60_extract_unternehmensvertraege(spark, sf_dir):
    """E19 Unternehmensverträge (ref lib/parser.js:1195-1230): raw line
    collection until the next centered headline, <br> sub-splitting."""
    return (_e9_records(spark)
            .select("doc_id", F.posexplode("unternehmens_vertraege")
                    .alias("k", "vertrag")))


_STEMS26_SQL = _STEMS_SQL

Q60_SQL = f"""
WITH base AS (SELECT i FROM UNNEST(range(0, {E9_N_DOCS})) AS t(i))
SELECT {_E9_DOCID_SQL} AS doc_id, 0 AS k,
       'Beherrschungsvertrag mit der ' || {_STEMS26_SQL}[(i % 26) + 1]
         || ' Holding AG' AS vertrag
FROM base
UNION ALL
SELECT {_E9_DOCID_SQL} AS doc_id, 1 AS k,
       'Gewinnabführungsvertrag seit ' || CAST(1990 + i % 10 AS VARCHAR)
         AS vertrag
FROM base WHERE i % 3 = 0
"""


def q61_media_features(spark, sf_dir):
    """Multimodal plane end-to-end with REAL decode: synth media (true P6
    payloads) -> Arrow-batched extract_features -> dependency-free netpbm
    decode (analytics/multimodal.py). Oracle: pinned table from the
    sequential pure-Python twin (same payload synthesis + decode, no
    Spark; floats pass through the schema's float32 before HALF_UP
    rounding)."""
    from ..analytics import multimodal

    docs = X.docs_dataframe(spark, EXTRACT_N_DOCS)
    media = multimodal.synth_media(spark, docs)
    feats = multimodal.extract_features(media, fake=False)
    return feats.select(
        "media_ref", "doc_id", "sha256", "n_bytes",
        *[F.round(F.col("features")[i].cast("double"), 6).alias(f"f{i}")
          for i in range(8)])


def _media_values_sql(rows) -> str:
    return (
        "SELECT media_ref, doc_id, sha256, CAST(n_bytes AS INT) AS n_bytes,\n"
        + ",\n".join(f"       CAST(f{i} AS DOUBLE) AS f{i}" for i in range(8))
        + "\nFROM (VALUES\n"
        + ",\n".join("  (" + ", ".join(repr(v) for v in row) + ")"
                     for row in rows)
        + "\n) AS t(media_ref, doc_id, sha256, n_bytes, "
        + ", ".join(f"f{i}" for i in range(8)) + ")"
    )


Q61_SQL = _media_values_sql(getattr(_pinned, "Q61_EXPECTED", []))


def q62_audio_features(spark, sf_dir):
    """Audio plane end-to-end with REAL decode: synth audio (true PCM16
    WAV payloads) -> kind-dispatched extract_features -> dependency-free
    RIFF/WAVE decode. Oracle: pinned pure-Python twin (same synthesis +
    decode; floats through float32 before HALF_UP rounding)."""
    from ..analytics import multimodal

    docs = X.docs_dataframe(spark, EXTRACT_N_DOCS)
    audio = multimodal.synth_audio(spark, docs)
    feats = multimodal.extract_features(audio, fake=False)
    return feats.select(
        "media_ref", "doc_id", "sha256", "n_bytes",
        *[F.round(F.col("features")[i].cast("double"), 6).alias(f"f{i}")
          for i in range(8)])


Q62_SQL = _media_values_sql(getattr(_pinned, "Q62_EXPECTED", []))


def q63_video_features(spark, sf_dir):
    """Video plane end-to-end with REAL decode + frame sampling: synth
    video (true Cmono y4m clips) -> kind-dispatched extract_features ->
    dependency-free YUV4MPEG2 parser touching every 2nd frame's luma
    plane. Oracle: pinned pure-Python twin."""
    from ..analytics import multimodal

    docs = X.docs_dataframe(spark, EXTRACT_N_DOCS)
    video = multimodal.synth_video(spark, docs)
    feats = multimodal.extract_features(video, fake=False)
    return feats.select(
        "media_ref", "doc_id", "sha256", "n_bytes",
        *[F.round(F.col("features")[i].cast("double"), 6).alias(f"f{i}")
          for i in range(8)])


Q63_SQL = _media_values_sql(getattr(_pinned, "Q63_EXPECTED", []))


def q64_extract_sonstige(spark, sf_dir):
    """E6 Sonstige Angaben (ref lib/parser.js:481-508): bold lines
    tag-stripped, split(':'). The oracle encodes the SEGMENT-INTERACTION
    that previously kept this un-oracled: when the second-exchange block
    (i%5==0) is the LAST section before Sonstige — i odd kills the
    dividend/i%4/i%8 sections, i%3!=0 kills the Kennzahlen section — the
    Börsenbewertung segment runs to end-of-document and swallows the
    headline (its text lands in notizen_kennzahlen; verified in lineage,
    dispatch parity pinned by q35), so those docs emit NO rows."""
    recs = _records(spark)
    return (recs.select("doc_id", F.explode("sonstige_angaben").alias("e"))
            .select("doc_id", F.col("e")[0].alias("key"),
                    F.col("e")[1].alias("value")))


Q64_SQL = f"""
SELECT {_DOCID_SQL} AS doc_id, 'Geschäftsjahr' AS key,
       ' Kalenderjahr' AS value
{_RANGE_SQL}
WHERE NOT (i % 5 = 0 AND i % 2 = 1 AND i % 3 <> 0)
"""


def q91_freshness_recrawl(spark, sf_dir):
    """Sitemap lastmod -> recrawl schedule (crawl/sitemaps.py
    freshness_recrawl): already-fetched URLs whose newest <lastmod>
    postdates their last fetch, with the deterministic generation the
    change first becomes fetchable. The corpus exercises every W3C
    datetime form (date-only, Z, +/-hh:mm offsets, fractional seconds)
    plus two drop paths (unparseable text, day 41); the oracle re-runs
    the XML block patterns AND the days-from-civil integer formula
    relationally, so the unix timestamps are value-gated bit-for-bit."""
    from ..crawl.sitemaps import freshness_recrawl

    i = F.col("id")
    fs = F.format_string
    url = fs("akf://cd%d/doc-%d.html", i % 7, i % 25)
    lm = (F.when(i % 6 == 0, fs("2005-%02d-%02d", i % 12 + 1, i % 28 + 1))
          .when(i % 6 == 1, fs("2005-%02d-15T08:30:00Z", i % 12 + 1))
          .when(i % 6 == 2, fs("2005-%02d-15T23:45+02:00", i % 12 + 1))
          .when(i % 6 == 3, fs("2005-%02d-15T01:10:05.25-05:30", i % 12 + 1))
          .when(i % 6 == 4, F.lit("garbage-date"))
          .otherwise(fs("2005-%02d-41", i % 12 + 1)))
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc>'), url,
        F.lit("</loc><lastmod>"), lm, F.lit("</lastmod></url><url><loc>"),
        url, F.lit("-nolm</loc></url></urlset>"))
    sitemaps = spark.range(SITEMAP_N).select(
        fs("akf://cd%d", i % 7).alias("host"), xml.alias("xml"))
    fetch_log = spark.range(SITEMAP_N).select(
        url.alias("url"), (i % 4).cast("long").alias("gen"))
    return freshness_recrawl(sitemaps, fetch_log,
                             gen_seconds=2592000, epoch0=1104537600)


# the W3C datetime regex, verbatim from crawl/sitemaps.py (Java ∩ RE2)
_W3C_SQL = (r"^(\d{4})-(\d{2})-(\d{2})"
            r"(?:[Tt](\d{2}):(\d{2})(?::(\d{2})(?:\.\d+)?)?"
            r"(Z|[+-]\d{2}:\d{2})?)?$")

Q91_SQL = r"""
WITH corpus AS (
  SELECT printf('akf://cd%d/doc-%d.html', i % 7, i % 25) AS u,
         CASE i % 6
           WHEN 0 THEN printf('2005-%02d-%02d', i % 12 + 1, i % 28 + 1)
           WHEN 1 THEN printf('2005-%02d-15T08:30:00Z', i % 12 + 1)
           WHEN 2 THEN printf('2005-%02d-15T23:45+02:00', i % 12 + 1)
           WHEN 3 THEN printf('2005-%02d-15T01:10:05.25-05:30', i % 12 + 1)
           WHEN 4 THEN 'garbage-date'
           ELSE printf('2005-%02d-41', i % 12 + 1)
         END AS lm
  FROM UNNEST(range(0, {N})) AS t(i)),
xmls AS (
  SELECT '<?xml version="1.0"?><urlset><url><loc>' || u
         || '</loc><lastmod>' || lm || '</lastmod></url><url><loc>' || u
         || '-nolm</loc></url></urlset>' AS xml
  FROM corpus),
blocks AS (
  SELECT UNNEST(regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1)) AS b
  FROM xmls),
pages AS (
  SELECT regexp_extract(b, '(?s)<loc>\s*(.*?)\s*</loc>', 1) AS url,
         nullif(regexp_extract(b, '(?s)<lastmod>\s*(.*?)\s*</lastmod>', 1),
                '') AS lastmod
  FROM blocks
  WHERE regexp_extract(b, '(?s)<loc>\s*(.*?)\s*</loc>', 1) != ''
    AND nullif(regexp_extract(b, '(?s)<lastmod>\s*(.*?)\s*</lastmod>', 1),
               '') IS NOT NULL),
parts AS (
  SELECT url,
         TRY_CAST(regexp_extract(lastmod, '{W3C}', 1) AS BIGINT) AS y,
         TRY_CAST(regexp_extract(lastmod, '{W3C}', 2) AS BIGINT) AS mo,
         TRY_CAST(regexp_extract(lastmod, '{W3C}', 3) AS BIGINT) AS d,
         COALESCE(TRY_CAST(regexp_extract(lastmod, '{W3C}', 4) AS BIGINT),
                  0) AS hh,
         COALESCE(TRY_CAST(regexp_extract(lastmod, '{W3C}', 5) AS BIGINT),
                  0) AS mi,
         COALESCE(TRY_CAST(regexp_extract(lastmod, '{W3C}', 6) AS BIGINT),
                  0) AS ss,
         NULLIF(regexp_extract(lastmod, '{W3C}', 7), '') AS tzd
  FROM pages),
civil AS (
  SELECT url, hh, mi, ss,
         CASE WHEN tzd IS NULL OR tzd = 'Z' THEN 0
              ELSE (CASE WHEN substr(tzd, 1, 1) = '-' THEN -1 ELSE 1 END)
                   * (TRY_CAST(substr(tzd, 2, 2) AS BIGINT) * 3600
                      + TRY_CAST(substr(tzd, 5, 2) AS BIGINT) * 60)
         END AS off,
         y - (CASE WHEN mo <= 2 THEN 1 ELSE 0 END) AS yy, mo, d
  FROM parts
  WHERE y IS NOT NULL AND mo BETWEEN 1 AND 12 AND d BETWEEN 1 AND 31
    AND hh <= 23 AND mi <= 59 AND ss <= 60),
unixts AS (
  SELECT url,
         ((yy // 400) * 146097
          + ((yy - (yy // 400) * 400) * 365
             + (yy - (yy // 400) * 400) // 4
             - (yy - (yy // 400) * 400) // 100
             + (153 * ((mo + 9) % 12) + 2) // 5 + d - 1)
          - 719468) * 86400 + hh * 3600 + mi * 60 + ss - off AS lastmod_ts
  FROM civil),
pmax AS (SELECT url, max(lastmod_ts) AS lastmod_ts FROM unixts GROUP BY url),
fl AS (
  SELECT printf('akf://cd%d/doc-%d.html', i % 7, i % 25) AS url,
         CAST(i % 4 AS BIGINT) AS gen
  FROM UNNEST(range(0, {N})) AS t(i)),
last AS (SELECT url, max(gen) AS last_fetch_gen FROM fl GROUP BY url)
SELECT p.url, p.lastmod_ts, l.last_fetch_gen,
       (p.lastmod_ts - 1104537600) // 2592000 + 1 AS recrawl_gen
FROM pmax p JOIN last l ON p.url = l.url
WHERE p.lastmod_ts > 1104537600 + l.last_fetch_gen * 2592000
""".replace("{W3C}", _W3C_SQL).replace("{N}", str(SITEMAP_N))


def q92_crawl_delay_schedule(spark, sf_dir):
    """One politeness scheduling round under per-host Crawl-delay budgets
    (robots.parse_crawl_delay -> frontier.crawl_delay_budgets ->
    schedule_generation): cd1999 is throttled to 2 fetches/generation and
    cd2001 to 5, the other hosts keep the global budget. Same synthetic
    frontier as q40; the oracle applies the budget as a per-host CASE on
    the identical politeness window, so the throttle itself is
    value-gated."""
    from ..crawl.canonicalize import host_of, url_hash64
    from ..crawl.frontier import (crawl_delay_budgets, global_sequence,
                                  schedule_generation)

    frontier = (spark.range(0, CRAWL_Q_N)
                .select(F.format_string("akf://cd%d/%04d.html",
                                        (F.lit(1999) + F.col("id") % 7)
                                        .cast("int"),
                                        F.col("id").cast("int")).alias("url"))
                .withColumn("url_hash", url_hash64("url"))
                .withColumn("host", host_of("url"))
                .withColumn("next_fetch_time",
                            (F.col("url_hash") % 3).cast("long"))
                .withColumn("depth", F.lit(0)))
    delays = spark.createDataFrame(
        [("akf://cd1999", 1296000.0), ("akf://cd2001", 518400.0)],
        "host string, crawl_delay double")
    budgets = crawl_delay_budgets(delays, gen_seconds=2592000,
                                  host_budget=CRAWL_Q_BUDGET)
    sched = schedule_generation(frontier, CRAWL_Q_BUDGET, n_salts=4,
                                budgets=budgets)
    sched, _n = global_sequence(sched,
                                ["next_fetch_time", "url_hash", "url"], 0)
    out = (sched.select("scheduled_seq", "url", "host", "url_hash",
                        "next_fetch_time")
           .localCheckpoint())
    sched._ordered_cache.unpersist()
    return out


Q92_SQL = f"""
WITH frontier AS (
  SELECT printf('akf://cd%d/%04d.html', 1999 + (i % 7), i) AS url
  FROM UNNEST(range(0, {CRAWL_Q_N})) AS t(i)),
identity AS (
  SELECT url,
         CAST(concat('0x', substr(md5(url), 1, 15)) AS BIGINT) AS url_hash,
         regexp_extract(url, '^([a-z0-9+.\\-]+://[^/]+)', 1) AS host
  FROM frontier),
keyed AS (
  SELECT url, url_hash, host, url_hash % 3 AS next_fetch_time FROM identity),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY host
             ORDER BY next_fetch_time, url_hash, url) AS rk
  FROM keyed)
SELECT row_number() OVER (ORDER BY next_fetch_time, url_hash, url) - 1
         AS scheduled_seq,
       url, host, url_hash, next_fetch_time
FROM ranked
WHERE rk <= CASE host WHEN 'akf://cd1999' THEN 2
                      WHEN 'akf://cd2001' THEN 5
                      ELSE {CRAWL_Q_BUDGET} END
"""


def q93_minhash_index_probe(spark, sf_dir):
    """Incremental MinHash dedup (analytics/dedup.py write_minhash_index /
    probe_minhash_index): the corpus splits deterministically into an
    indexed 3/4 and a "new batch" 1/4 (first md5(doc_id) hex digit < '4'),
    the index is materialized bkp-partitioned, and the probe returns the
    batch-vs-corpus candidate pairs with exact-Jaccard verdicts. The
    oracle runs the full q71 MinHash pipeline restricted to cross pairs,
    so the incremental path is value-gated against the batch semantics."""
    import os

    from ..analytics import dedup as D

    docs = _t(spark, sf_dir, "documents")
    is_new = (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
              < F.lit("4"))
    path = ("/tmp/akf_q93_idx_"
            + os.path.normpath(sf_dir).strip("/").replace("/", "_"))
    D.write_minhash_index(docs.filter(~is_new), path)
    return D.probe_minhash_index(spark, path, docs.filter(is_new))


Q93_SQL = (r"""
WITH""" + _SHINGLE_SQL + r""",
tag AS (
  SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4' AS is_new
  FROM documents),
hashes AS (
  SELECT doc_id, h,
         CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT)
         + h * CAST(concat('0x', substr(md5(shingle), 9, 8)) AS BIGINT) AS hv
  FROM sh, UNNEST(range(0, 8)) AS hh(h)),
sig AS (
  SELECT doc_id, h, min(hv) AS minhash FROM hashes GROUP BY doc_id, h),
bk AS (
  SELECT doc_id, CAST(h // 2 AS INT) AS band,
         md5(array_to_string(list_sort(list(minhash)), ',')) AS band_key
  FROM sig GROUP BY doc_id, band),
cand AS (
  SELECT DISTINCT n.doc_id AS new_doc, o.doc_id AS idx_doc
  FROM bk n
  JOIN tag tn ON n.doc_id = tn.doc_id AND tn.is_new
  JOIN bk o ON n.band = o.band AND n.band_key = o.band_key
  JOIN tag toid ON o.doc_id = toid.doc_id AND NOT toid.is_new),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.new_doc, c.idx_doc, count(*) AS n_common
  FROM cand c
  JOIN sh sa ON c.new_doc = sa.doc_id
  JOIN sh sb ON c.idx_doc = sb.doc_id AND sa.shingle = sb.shingle
  GROUP BY c.new_doc, c.idx_doc)
SELECT i.new_doc, i.idx_doc,
       round(i.n_common / (za.n_sh + zb.n_sh - i.n_common), 6) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.new_doc
JOIN sizes zb ON zb.doc_id = i.idx_doc
""")


BPE_N_MERGES = 12


def q94_learn_bpe(spark, sf_dir):
    """Distributed BPE vocabulary learning (analytics/bpe.py learn_bpe):
    12 merges over the documents word vocabulary — integer pair counts +
    a total tie-break make the merge SEQUENCE a pure function of the
    corpus, so the iterative algorithm value-hashes against a pinned
    pure-Python twin (gen_pinned_oracles.q94_rows; the q80 fixed-point
    precedent). Pinned at sf0.01, the driver's oracle scale."""
    from ..analytics.bpe import learn_bpe

    return learn_bpe(_t(spark, sf_dir, "documents"), n_merges=BPE_N_MERGES)


Q94_SQL = (
    "SELECT CAST(step AS INT) AS step, \"left\", \"right\",\n"
    "       CAST(pair_count AS BIGINT) AS pair_count\n"
    "FROM (VALUES\n"
    + ",\n".join(f"  ({s}, {l!r}, {r!r}, {c})"
                  for s, l, r, c in _pinned.Q94_EXPECTED)
    + "\n) AS t(step, \"left\", \"right\", pair_count)"
)


def q95_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling (analytics/sampling.py): the 5
    documents per (lang, source) stratum with the smallest md5(doc_id) —
    the reproducible eval-holdout / inspection-panel primitive. The
    oracle is the identical window in SQL, so rank AND membership are
    value-gated."""
    from ..analytics.sampling import stratified_sample

    return (stratified_sample(_t(spark, sf_dir, "documents"),
                              ["lang", "source"], k=5)
            .select("doc_id", "lang", "source", "sample_rank"))


Q95_SQL = r"""
SELECT doc_id, lang, source, CAST(rk AS INT) AS sample_rank
FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (PARTITION BY lang, source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rk
  FROM documents)
WHERE rk <= 5
"""


def q96_kmeans_int8(spark, sf_dir):
    """Fixed-point integer k-means over int8-quantized embeddings
    (analytics/clustering.py): md5-rank init, integer squared-L2
    assignment, floor(sum/count) centroid updates — bit-identical at any
    parallelism, pinned against a numpy twin
    (gen_pinned_oracles.q96_rows, sf0.01). The deterministic counterpart
    of Lloyd k-means for curation-grade clustering."""
    from ..analytics.clustering import kmeans_int8

    return kmeans_int8(_t(spark, sf_dir, "embeddings"), k=8, n_iter=3)


Q96_SQL = (
    "SELECT CAST(vec_id AS BIGINT) AS vec_id,\n"
    "       CAST(cluster_id AS INT) AS cluster_id,\n"
    "       CAST(dist AS BIGINT) AS dist\n"
    "FROM (VALUES\n"
    + ",\n".join(f"  ({v}, {c}, {d})" for v, c, d in _pinned.Q96_EXPECTED)
    + "\n) AS t(vec_id, cluster_id, dist)"
)


def q97_bpe_tokenize_corpus(spark, sf_dir):
    """The full tokenizer plane end-to-end: learn 12 BPE merges over the
    corpus (q94), tokenize every document under them (apply_bpe — merge
    folds over the broadcast distinct-word vocabulary), roll up per
    language. Pinned against the pure-Python learn+apply twin
    (gen_pinned_oracles.q97_rows), so any drift anywhere in the
    vocabulary -> merges -> tokenization chain shifts the totals."""
    from ..analytics.bpe import apply_bpe, learn_bpe

    docs = _t(spark, sf_dir, "documents")
    merges = [(r.left, r.right)
              for r in learn_bpe(docs, n_merges=BPE_N_MERGES)
              .orderBy("step").collect()]
    tok = apply_bpe(docs, merges)
    return (tok.join(docs.select("doc_id", "lang"), "doc_id")
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.sum("n_distinct_tokens").alias("total_distinct")))


Q97_SQL = (
    "SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,\n"
    "       CAST(total_tokens AS BIGINT) AS total_tokens,\n"
    "       CAST(total_distinct AS BIGINT) AS total_distinct\n"
    "FROM (VALUES\n"
    + ",\n".join(f"  ({lg!r}, {n}, {t}, {d})"
                  for lg, n, t, d in _pinned.Q97_EXPECTED)
    + "\n) AS t(lang, n_docs, total_tokens, total_distinct)"
)


N_HOSTS = 7


def q98_host_rank(spark, sf_dir):
    """Host-level crawl prioritization: the q80 page link graph collapsed
    to its host graph (host = node % 7, weight = aggregated page links,
    intra-host links dropped) ranked by WEIGHTED fixed-point PageRank
    (analytics/graph.py pagerank_weighted). Integer contributions
    ((score * w) DIV out_weight) keep the iterative rank value-hashable;
    the oracle unrolls the same three weighted steps relationally."""
    from ..analytics.graph import pagerank_weighted

    n = PR_N_NODES
    i, j = F.col("i"), F.col("j")
    page_edges = (spark.range(n).withColumnRenamed("id", "i")
                  .select("i", F.explode(
                      F.sequence(F.lit(0), F.lit(1) + i % 3)).alias("j"))
                  .select(F.col("i").alias("src"),
                          ((i * 7 + j * 13 + 1) % n).alias("dst"))
                  .filter(F.col("dst") != F.col("src")))
    host_edges = (page_edges
                  .select((F.col("src") % N_HOSTS).alias("src"),
                          (F.col("dst") % N_HOSTS).alias("dst"))
                  .filter(F.col("src") != F.col("dst"))
                  .groupBy("src", "dst")
                  .agg(F.count("*").alias("weight")))
    return (pagerank_weighted(spark, host_edges, N_HOSTS, n_iter=PR_N_ITER)
            .withColumnRenamed("node", "host_id"))


def _q98_sql() -> str:
    n, h = PR_N_NODES, N_HOSTS
    base = 10**12 // h
    teleport = (15 * base) // 100
    parts = [f"""
WITH pe AS (
  SELECT i AS src, (i*7 + j*13 + 1) % {n} AS dst
  FROM UNNEST(range(0, {n})) t(i), UNNEST(range(0, 2 + i % 3)) u(j)
  WHERE (i*7 + j*13 + 1) % {n} != i),
edges AS (
  SELECT src % {h} AS src, dst % {h} AS dst, count(*) AS weight
  FROM pe WHERE src % {h} != dst % {h} GROUP BY src % {h}, dst % {h}),
outw AS (SELECT src, sum(weight) AS w FROM edges GROUP BY src),
nodes AS (SELECT i AS host_id FROM UNNEST(range(0, {h})) t(i)),
s0 AS (SELECT host_id, {base} AS score FROM nodes)"""]
    for k in range(1, PR_N_ITER + 1):
        parts.append(f""",
c{k} AS (
  SELECT e.dst AS host_id, sum((s.score * e.weight) // o.w) AS inm
  FROM edges e JOIN outw o USING (src) JOIN s{k-1} s ON s.host_id = e.src
  GROUP BY e.dst),
s{k} AS (
  SELECT n.host_id, {teleport} + (85 * coalesce(c.inm, 0)) // 100 AS score
  FROM nodes n LEFT JOIN c{k} c USING (host_id))""")
    parts.append(f"""
SELECT host_id, CAST(score AS BIGINT) AS score FROM s{PR_N_ITER}
""")
    return "".join(parts)


Q98_SQL = _q98_sql()


def q99_repeated_spans(spark, sf_dir):
    """ExactSubstr-style repeated-substring dedup statistics (Lee et al.):
    every char 20-gram Rabin-Karp hashed, windows duplicated when the hash
    occurs >= 2 times corpus-wide, per-doc merged-span stats. The oracle
    recomputes the polynomial with mod-reduced powers (BIGINT-safe at any
    k, where the q73 twin's exact HUGEINT powers overflow int128 past
    k = 15), the global multiplicity gate, and the span merge via a
    lead() window — value-gating hash arithmetic, the duplicate gate, and
    the interval-union fold in one hash."""
    return text.repeated_spans(_t(spark, sf_dir, "documents"), k=20)


def _q99_sql(k: int = 20) -> str:
    # mod-reduced power expansion: term_j = ascii(char_j) * (257^j mod M);
    # each term < 2^21 * 1e9 and the k-term sum < 2^63, so plain BIGINT
    # arithmetic matches the engine's Horner fold exactly.
    mod = 1_000_000_007
    terms = "\n               + ".join(
        f"ascii(substr(lower(text), i + {j}, 1))::BIGINT"
        f" * {pow(257, k - 1 - j, mod)}"
        for j in range(k))
    return f"""WITH g AS (
  SELECT doc_id, i - 1 AS p,
         ({terms}
         ) % {mod} AS h
  FROM documents, UNNEST(range(1, length(text) - {k - 2})) AS u(i)
  WHERE length(text) >= {k}),
dh AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
d AS (SELECT g.doc_id, g.p FROM g SEMI JOIN dh USING (h)),
w AS (SELECT doc_id, p,
             lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS np
      FROM d)
SELECT doc_id,
       CAST(count(*) AS INT) AS n_dup_windows,
       CAST(1 + count(CASE WHEN np - p > {k} THEN 1 END) AS INT)
         AS n_spans,
       CAST(sum(CASE WHEN np IS NULL THEN {k}
                     ELSE least(np - p, {k}) END) AS INT) AS dup_chars
FROM w GROUP BY doc_id
"""


Q99_SQL = _q99_sql()


def q102_unimax_mix(spark, sf_dir):
    """UniMax epoch-capped training-mix allocation (Chung et al. 2023)
    over per-source whitespace-token totals, budget = half the corpus,
    cap = 3 epochs. Pure integer arithmetic via the closed form of the
    smallest-first walk (division-free threshold test + DIV share +
    tail-remainder — the randomized walk-parity property test lives in
    tests/test_analytics.py); the oracle recomputes the identical closed
    form relationally, value-gating ranks, thresholds and every
    allocation."""
    from ..analytics import mix
    return mix.unimax_allocation(_t(spark, sf_dir, "documents"),
                                 epoch_cap=3)


Q102_SQL = r"""WITH counts AS (
  SELECT source,
         CAST(sum(len(regexp_split_to_array(trim(lower(text)), '\s+')))
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
tot AS (SELECT count(*) AS k, sum(n_tokens) // 2 AS b FROM counts),
ranked AS (
  SELECT source, n_tokens, k, b,
         row_number() OVER (ORDER BY n_tokens, source) AS r,
         sum(n_tokens * 3) OVER (ORDER BY n_tokens, source
             ROWS UNBOUNDED PRECEDING) AS cum
  FROM counts CROSS JOIN tot),
rr AS (
  SELECT *, cum - n_tokens * 3 AS prev, k - r + 1 AS cnt,
         (n_tokens * 3 * (k - r + 1)) > (b - (cum - n_tokens * 3)) AS over
  FROM ranked),
mrow AS (
  SELECT min(r) AS m, arg_min(prev, r) AS prev_m, arg_min(cnt, r) AS cnt_m
  FROM rr WHERE over),
alloc AS (
  SELECT rr.source, rr.n_tokens,
         CASE WHEN m IS NULL OR r < m THEN n_tokens * 3
              ELSE (b - prev_m) // cnt_m
                   + CASE WHEN r - m >= cnt_m - (b - prev_m) % cnt_m
                          THEN 1 ELSE 0 END
         END AS alloc_tokens
  FROM rr CROSS JOIN mrow)
SELECT source, n_tokens,
       CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
       CAST((alloc_tokens * 1000000) // n_tokens AS BIGINT) AS epochs_micro
FROM alloc
"""


def q103_cdc_chunks(spark, sf_dir):
    """Content-defined chunking + chunk-level exact dedup (LBFS/FastCDC
    family): Rabin-Karp boundary rule h % 64 == 0 over char 8-grams (the
    q73 polynomial), chunks deduped by md5 corpus-wide. The oracle
    recomputes the polynomial (HUGEINT), the cut rule, the chunk
    substrings via a lead() window, and the multiplicity gate — value-
    hashing boundary placement AND the dedup accounting in one hash."""
    return dedup.cdc_chunk_stats(_t(spark, sf_dir, "documents"))


Q103_SQL = r"""WITH s AS (SELECT doc_id, lower(text) AS t FROM documents),
g AS (
  SELECT doc_id, i - 1 AS p,
         CAST((  ascii(substr(t, i,     1))::HUGEINT * 74051159531521793
               + ascii(substr(t, i + 1, 1))::HUGEINT * 288136807515649
               + ascii(substr(t, i + 2, 1))::HUGEINT * 1121154893057
               + ascii(substr(t, i + 3, 1))::HUGEINT * 4362470401
               + ascii(substr(t, i + 4, 1))::HUGEINT * 16974593
               + ascii(substr(t, i + 5, 1))::HUGEINT * 66049
               + ascii(substr(t, i + 6, 1))::HUGEINT * 257
               + ascii(substr(t, i + 7, 1))::HUGEINT
               ) % 1000000007 AS BIGINT) AS h
  FROM s, UNNEST(range(1, length(t) - 6)) AS u(i)
  WHERE length(t) >= 8),
cuts AS (
  SELECT doc_id, p FROM g WHERE p > 0 AND h % 64 = 0
  UNION ALL SELECT doc_id, 0 FROM s),
ch0 AS (
  SELECT c.doc_id,
         substr(s.t, c.p + 1,
                coalesce(lead(c.p) OVER (PARTITION BY c.doc_id
                                         ORDER BY c.p),
                         length(s.t)) - c.p) AS chunk
  FROM cuts c JOIN s USING (doc_id)),
ch AS (SELECT doc_id, md5(chunk) AS ch_h, length(chunk) AS ch_len
       FROM ch0 WHERE length(chunk) > 0),
dup AS (SELECT ch_h FROM ch GROUP BY ch_h HAVING count(*) >= 2)
SELECT ch.doc_id,
       CAST(count(*) AS INT) AS n_chunks,
       CAST(sum(CASE WHEN d.ch_h IS NOT NULL THEN 1 ELSE 0 END) AS INT)
         AS n_dup_chunks,
       CAST(sum(CASE WHEN d.ch_h IS NOT NULL THEN ch_len ELSE 0 END)
            AS INT) AS dup_chunk_chars
FROM ch LEFT JOIN dup d ON ch.ch_h = d.ch_h
GROUP BY ch.doc_id
"""


def q104_dsir_weights(spark, sf_dir):
    """DSIR-style hashed-bigram importance weights (Xie et al. 2023):
    4096-bucket feature hashing (md5-derived, engine-portable), target =
    source 'src0', raw = whole corpus; per-doc mean fixed-point
    target/raw count ratio (the documented ln-free variant — see the
    operator docstring). Oracle recomputes bucket hashing, both count
    tables and the integer divisions, value-hashing every weight."""
    return text.dsir_importance(_t(spark, sf_dir, "documents"))


Q104_SQL = r"""WITH base AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
  WHERE len(regexp_split_to_array(trim(lower(text)), '\s+')) >= 2),
feat AS (
  SELECT doc_id, source,
         CAST('0x' || substr(md5(t[i] || chr(31) || t[i + 1]), 1, 8)
              AS BIGINT) % 4096 AS f
  FROM base, UNNEST(range(1, len(t))) AS u(i)),
ct AS (SELECT f, count(*) AS ct FROM feat WHERE source = 'src0' GROUP BY f),
cr AS (SELECT f, count(*) AS cr FROM feat GROUP BY f),
lik AS (
  SELECT b.doc_id,
         ((coalesce(ct.ct, 0) + 1) * 1000000) // (cr.cr + 1) AS l
  FROM feat b
  LEFT JOIN ct ON b.f = ct.f
  JOIN cr ON b.f = cr.f)
SELECT doc_id,
       CAST(count(*) AS INT) AS n_feats,
       CAST(sum(l) // count(*) AS BIGINT) AS dsir_score
FROM lik GROUP BY doc_id
"""


def q105_semdedup(spark, sf_dir):
    """SemDeDup per-cluster summary: fixed-point int8 k-means (q96) +
    within-cluster int8-cosine pruning with the paper's keep-farthest-
    from-centroid rule. Columns carry member/removed counts plus vec_id
    checksums of both partitions, so the hash gates the exact removal
    SET, not just its size. Oracle = pinned numpy twin
    (gen_pinned_oracles.q105_rows), valid at sf0.01."""
    from ..analytics.clustering import semdedup
    # k pinned to the generator's configuration; the operator default is
    # now k=None -> ceil(sqrt(N)) (the SemDeDup paper's sizing)
    out = semdedup(_t(spark, sf_dir, "embeddings"), k=8)
    return (out.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).cast("int").alias("n_members"),
                 F.sum(F.when(~F.col("is_kept"), 1).otherwise(0))
                 .cast("int").alias("n_removed"),
                 F.sum(F.when(~F.col("is_kept"), F.col("vec_id"))
                       .otherwise(F.lit(0))).cast("long")
                 .alias("removed_vec_sum"),
                 F.sum(F.when(F.col("is_kept"), F.col("vec_id"))
                       .otherwise(F.lit(0))).cast("long")
                 .alias("kept_vec_sum")))


Q105_SQL = (
    "SELECT CAST(cluster_id AS INT) AS cluster_id,\n"
    "       CAST(n_members AS INT) AS n_members,\n"
    "       CAST(n_removed AS INT) AS n_removed,\n"
    "       CAST(removed_vec_sum AS BIGINT) AS removed_vec_sum,\n"
    "       CAST(kept_vec_sum AS BIGINT) AS kept_vec_sum\n"
    "FROM (VALUES\n"
    + ",\n".join(f"  ({c}, {n}, {r}, {rs}, {ks})"
                 for c, n, r, rs, ks in _pinned.Q105_EXPECTED)
    + "\n) AS t(cluster_id, n_members, n_removed,"
    " removed_vec_sum, kept_vec_sum)"
)


def q106_quality_canonical(spark, sf_dir):
    """Quality-aware duplicate-cluster canonical selection: the q49
    clusters re-resolved with the production keeper rule — best
    (quality_ok, n_tokens, -doc_id) member survives instead of min-id.
    Oracle splices the q49 recursive-CTE component chain with the q21
    quality expressions and the same window order, value-hashing the
    keeper choice for every cluster."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5,
                                      max_doc_freq=None)
    return dedup.quality_canonical(dedup.dup_clusters(pairs),
                                   text.quality_scores(docs))


_Q49_HEAD = Q49_SQL[:Q49_SQL.rindex("SELECT l.doc_id")].rstrip()
Q106_SQL = _Q49_HEAD + r""",
q AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         (len(regexp_split_to_array(trim(text), '\s+')) >= 5
          AND round(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                    / greatest(length(text), 1), 6) < 0.3) AS quality_ok
  FROM documents),
ranked AS (
  SELECT l.doc_id, l.cluster_id, c.cluster_size, q.n_tokens,
         row_number() OVER (PARTITION BY l.cluster_id
                            ORDER BY q.quality_ok DESC, q.n_tokens DESC,
                                     l.doc_id ASC) AS rn
  FROM labels l JOIN csizes c USING (cluster_id)
  JOIN q ON q.doc_id = l.doc_id)
SELECT doc_id, cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
       n_tokens, rn = 1 AS is_kept
FROM ranked
"""


def q107_keyword_search(spark, sf_dir):
    """Persisted inverted keyword index, build + AND-probe (the q93
    build-once/probe-many contract for text search): postings
    partitionBy(first token byte), probe for three corpus terms reads
    only those partitions (partition pruning), match = count-distinct
    equality. Oracle recomputes the posting set and the AND semantics
    from the raw table."""
    import os

    docs = _t(spark, sf_dir, "documents")
    path = ("/tmp/akf_q107_idx_"
            + os.path.normpath(sf_dir).strip("/").replace("/", "_"))
    text.write_text_index(docs, path)
    return text.keyword_search_index(spark, path,
                                     ["data", "join", "table"])


Q107_SQL = r"""WITH toks AS (
  SELECT DISTINCT doc_id, t AS token
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        FROM documents)
  WHERE length(t) > 0)
SELECT doc_id, CAST(count(DISTINCT token) AS INT) AS n_terms_matched
FROM toks WHERE token IN ('data', 'join', 'table')
GROUP BY doc_id HAVING count(DISTINCT token) = 3
"""


def q108_curated_semantic_mix(spark, sf_dir):
    """The curation capstone with the SEMANTIC plane composed in:
    curate_training_mix(semantic_dedup=embeddings, quality_canonical=True)
    — SemDeDup keep-list prepass (q105, k=8 pinned config) -> exact-dedup
    with the q106 quality-keeper rule -> quality/lang gates -> shards.
    Oracle: the full relational tail recomputed by DuckDB over documents
    prefiltered by the PINNED semdedup removal set
    (gen_pinned_oracles.q105_detail; valid at sf0.01, like q105)."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    return text.curate_training_mix(docs, semantic_dedup=emb, semdedup_k=8,
                                    quality_canonical=True)


Q108_SQL = r"""
WITH padded AS (
  SELECT doc_id, text, ' ' || lower(text) || ' ' AS p FROM documents
  WHERE doc_id NOT IN ({removed})),
base AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         round(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
               / greatest(length(text), 1), 6) AS punct_ratio,
         CASE WHEN {de} > {en} THEN 'de'
              WHEN {en} > {de} THEN 'en' ELSE 'und' END AS lang_guess,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
  FROM padded),
dd AS (
  SELECT *, row_number() OVER (
             PARTITION BY fingerprint
             ORDER BY (n_tokens >= 5 AND punct_ratio < 0.3) DESC,
                      n_tokens DESC, doc_id ASC) = 1 AS is_canonical
  FROM base)
SELECT doc_id, lang_guess, n_tokens, fingerprint,
       CAST(CAST(concat('0x', substr(fingerprint, 1, 15)) AS BIGINT) % 8
            AS INT) AS shard
FROM dd
WHERE is_canonical AND n_tokens >= 5 AND punct_ratio < 0.3
  AND lang_guess IN ('de', 'en')
""".format(de=_sql_hits(_DE), en=_sql_hits(_EN),
           removed=", ".join(map(str, _pinned.Q105_REMOVED)) or "-1")


def q101_ivf_int8_recall(spark, sf_dir):
    """Int8 IVF probe accuracy gate (roadmap lever #7 composed): recall@5
    of the quantized-scan IVF path against the FLOAT brute-force oracle —
    one gate covering the IVF pruning loss AND the int8 quantization
    loss. Oracle = exact pinned recall vector from the numpy twin
    (scripts/gen_pinned_oracles.q101_rows), valid at sf0.01 — plus the
    semantic floor asserted in tests (mean >= 0.8, matching q65's)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_int8_recall_vs_bruteforce(
        emb, [0, 7, 42, 99, 123], k=5)


Q101_SQL = (
    "SELECT CAST(query_id AS BIGINT) AS query_id,\n"
    "       CAST(recall AS DOUBLE) AS recall\n"
    "FROM (VALUES\n"
    + ",\n".join(f"  ({q}, {r!r})" for q, r in _pinned.Q101_EXPECTED)
    + "\n) AS t(query_id, recall)"
)


def q100_lm_quality(spark, sf_dir):
    """CCNet-style bigram-LM quality scoring: add-one-smoothed bigram LM
    trained on the trusted subset (source = 'src0'), every document scored
    by mean fixed-point per-bigram likelihood. Integer arithmetic
    end-to-end ((c+1)*1e6 DIV (prefix+V), then sum DIV n), so the oracle
    value-hashes every score — gating tokenization parity, the training
    counts, the smoothing denominators, and both integer divisions."""
    return text.bigram_lm_scores(_t(spark, sf_dir, "documents"))


Q100_SQL = r"""WITH base AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
  WHERE len(regexp_split_to_array(trim(lower(text)), '\s+')) >= 2),
bg AS (
  SELECT doc_id, source, t[i] AS w1, t[i + 1] AS w2
  FROM base, UNNEST(range(1, len(t))) AS u(i)),
cb AS (SELECT w1, w2, count(*) AS cb FROM bg
       WHERE source = 'src0' GROUP BY w1, w2),
cu AS (SELECT w1, count(*) AS cu FROM bg
       WHERE source = 'src0' GROUP BY w1),
v AS (SELECT count(DISTINCT w) AS v
      FROM (SELECT unnest(t) AS w FROM base WHERE source = 'src0')),
lik AS (
  SELECT b.doc_id,
         ((coalesce(cb.cb, 0) + 1) * 1000000)
           // (coalesce(cu.cu, 0) + v.v) AS l
  FROM bg b
  LEFT JOIN cb ON b.w1 = cb.w1 AND b.w2 = cb.w2
  LEFT JOIN cu ON b.w1 = cu.w1
  CROSS JOIN v)
SELECT doc_id,
       CAST(count(*) AS INT) AS n_bigrams,
       CAST(sum(l) // count(*) AS BIGINT) AS lm_score
FROM lik GROUP BY doc_id
"""


def q110_pq_recall(spark, sf_dir):
    """PQ-ADC ANN accuracy gate (Jégou et al. product quantization, the
    FAISS IVF-PQ building block): recall@5 of the 8x16 product-quantized
    ADC scan + exact rerank against the float brute-force oracle. The
    scan ranks by m_sub table lookups over byte-sized codes (a 32x
    scan-size cut vs float32); the pinned numpy twin gates the codebook
    sampling, per-subspace argmin encoding, the ADC fold, and the rerank.
    Pinned at sf0.01 (like q65/q101); mean >= 0.8 asserted in tests."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pq_recall_vs_bruteforce(emb, [0, 7, 42, 99, 123], k=5)


Q110_SQL = (
    "SELECT CAST(query_id AS BIGINT) AS query_id,\n"
    "       CAST(recall AS DOUBLE) AS recall\n"
    "FROM (VALUES\n"
    + ",\n".join(f"  ({q}, {r!r})" for q, r in _pinned.Q110_EXPECTED)
    + "\n) AS t(query_id, recall)"
)


def q109_bm25_rank(spark, sf_dir):
    """BM25 ranked retrieval (the scoring sibling of the q107 AND-probe):
    fixed-point Robertson saturation with the ln-free ratio idf (q104's
    documented trade — ln is not correctly-rounded across engines; the
    ratio is a monotone transform so rankings are preserved). The oracle
    value-hashes every score AND the top-k rank order, gating
    tokenization, df/N/avgdl stats, all four integer divisions, and the
    DECIMAL(38,0)/HUGEINT widening of the score product."""
    return text.bm25_rank(_t(spark, sf_dir, "documents"),
                          ["data", "join", "vector"], top_k=20)


Q109_SQL = r"""WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     t -> length(t) > 0) AS t
  FROM documents),
dls AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(dl) AS BIGINT) AS total_dl FROM dls),
tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
  WHERE tok IN ('data', 'join', 'vector')
  GROUP BY doc_id, tok),
dft AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM tf GROUP BY tok),
sc AS (
  SELECT tf.doc_id,
         ((2 * (s.n_docs - dft.df) + 1) * 1000000)
           // (2 * dft.df + 1) AS idf_fp,
         (d.dl * 1000000 * 1000000)
           // ((s.total_dl * 1000000) // s.n_docs) AS dlq_fp,
         tf.tf AS tf
  FROM tf JOIN dft USING (tok)
  JOIN dls d USING (doc_id) CROSS JOIN stats s),
sc2 AS (
  SELECT doc_id, idf_fp,
         (6 * (250000 + (3 * dlq_fp) // 4)) // 5 AS k_fp, tf
  FROM sc),
sc3 AS (
  SELECT doc_id,
         CAST((CAST(idf_fp AS HUGEINT)
               * ((11 * tf * 1000000 * 1000000)
                  // (5 * (tf * 1000000 + k_fp))))
              // 1000000 AS BIGINT) AS score_term_fp
  FROM sc2),
agg AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_terms,
         CAST(sum(score_term_fp) AS BIGINT) AS score_fp
  FROM sc3 GROUP BY doc_id),
ranked AS (
  SELECT doc_id, n_terms, score_fp,
         CAST(row_number() OVER (ORDER BY score_fp DESC, doc_id ASC)
              AS INT) AS rank
  FROM agg)
SELECT doc_id, n_terms, score_fp, rank FROM ranked WHERE rank <= 20
"""


def q113_media_dedup(spark, sf_dir):
    """Exact media dedup over the interleaved doc store (the storage
    lever of a multimodal training corpus — duplicate images dominate
    crawled media bytes): pooled synthetic payloads (real P6 images, 13
    distinct contents across 40 refs), sha256 computed in the scan
    projection so the dedup shuffle moves (ref, hash, n_bytes) — never
    payload bytes; canonical = min media_ref per hash. Oracle: pinned
    table from the sequential pure-Python twin (same spans -> pooled
    payload -> sha256 -> group walk, no Spark)."""
    from ..analytics import multimodal

    docs = X.docs_dataframe(spark, EXTRACT_N_DOCS)
    media = multimodal.synth_media_pooled(spark, docs, pool=13)
    return (multimodal.media_dedup(media)
            .select("media_ref", "canonical_ref", "content_hash",
                    F.col("n_bytes").cast("long").alias("n_bytes"),
                    F.col("n_refs").cast("long").alias("n_refs")))


Q113_SQL = (
    "SELECT media_ref, canonical_ref, content_hash,\n"
    "       CAST(n_bytes AS BIGINT) AS n_bytes,\n"
    "       CAST(n_refs AS BIGINT) AS n_refs\n"
    "FROM (VALUES\n"
    + ",\n".join("  (" + ", ".join(repr(v) for v in row) + ")"
                 for row in _pinned.Q113_EXPECTED)
    + "\n) AS t(media_ref, canonical_ref, content_hash, n_bytes, n_refs)"
)


def q114_media_near_dups(spark, sf_dir):
    """Perceptual near-duplicate media (the dedup catch that exact
    hashing misses: re-encoded / lightly-edited images): pooled payloads
    with per-ref raster jitter (every content hash DISTINCT — q113's
    exact dedup finds nothing here), 64-bit dHash computed next to the
    decode in the scan stage, 4x16-bit band join (pigeonhole-complete
    for hamming <= 3), bit_count verify. Oracle: pinned all-pairs twin
    (single-sourced synth + dhash64) — which also proves the banding
    lost no pair."""
    from ..analytics import multimodal

    docs = X.docs_dataframe(spark, EXTRACT_N_DOCS)
    media = multimodal.synth_media_pooled(spark, docs, pool=13, jitter=3)
    return (multimodal.media_near_dups(media, max_hamming=3)
            .select("ref_a", "ref_b",
                    F.col("hamming").cast("int").alias("hamming")))


def q115_crossmodal_near_dups(spark, sf_dir):
    """Cross-modal perceptual near-dups: the corpus's media refs become
    a MIX of image/audio/video payloads (per-kind pools + jitter — all
    byte-distinct), each hashed by its modality's dHash (grid /
    energy-contour / keyframe, all integer-exact), banded with the kind
    in the bucket key so modalities never cross. Oracle: pinned
    all-same-kind-pairs twin over the single-sourced synth + hashers —
    completeness of the kind-scoped banding included."""
    from ..analytics import multimodal

    docs = X.docs_dataframe(spark, EXTRACT_N_DOCS)
    media = multimodal.synth_media_pooled_mixed(spark, docs, pool=5,
                                                jitter=3)
    return (multimodal.media_near_dups(media, max_hamming=3)
            .select("ref_a", "ref_b", "kind",
                    F.col("hamming").cast("int").alias("hamming")))


Q115_SQL = (
    "SELECT ref_a, ref_b, kind, CAST(hamming AS INT) AS hamming\n"
    "FROM (VALUES\n"
    + ",\n".join("  (" + ", ".join(repr(v) for v in row) + ")"
                 for row in _pinned.Q115_EXPECTED)
    + "\n) AS t(ref_a, ref_b, kind, hamming)"
)


Q114_SQL = (
    "SELECT ref_a, ref_b, CAST(hamming AS INT) AS hamming\n"
    "FROM (VALUES\n"
    + ",\n".join("  (" + ", ".join(repr(v) for v in row) + ")"
                 for row in _pinned.Q114_EXPECTED)
    + "\n) AS t(ref_a, ref_b, hamming)"
)


def q116_planted_rows() -> list[tuple]:
    """Planted mutants that make every q116 gate observable on the
    otherwise-clean synthetic corpus (single-sourced for the query AND
    the pinned twin): an exact text duplicate of doc 0 under a larger
    doc_id (dedup victim — canonical rule keeps the original), a
    punct-heavy doc (>= 0.3 punct ratio, fails quality), and a 4-token
    doc (fails the n_tokens >= 5 gate)."""
    dup_spans = [dict(s) for s in
                 fixtures.html_to_spans(fixtures.synth_html(0,
                                                            EXTRACT_N_DOCS))]
    punct = ".,;:!? .,;:!? .,;:!? kurz und knapp"
    tiny = "nur vier kurze worte"
    mk = lambda t: [{"kind": "text", "text": t, "media_ref": None,
                     "offset": 0}]
    return [("zzzz/dup-of-first", dup_spans),
            ("zzzz/punct-heavy", mk(punct)),
            ("zzzz/tiny", mk(tiny))]


def q116_interleaved_curation(spark, sf_dir):
    """The INTERLEAVED curation capstone: media dedup + in-array ref
    canonicalization composed with the text quality gate and exact text
    dedup, one row per doc with is_kept — the export rule of a
    multimodal training corpus. Corpus = the synthetic spans docs +
    three planted mutants (q116_planted_rows) so every gate fires.
    Oracle: pinned sequential twin (fixtures spans -> pooled payload
    dedup walk -> Java-semantics tokenize/normalize in pure Python)."""
    from ..analytics import multimodal

    docs = X.docs_dataframe(spark, EXTRACT_N_DOCS)
    planted = spark.createDataFrame(q116_planted_rows(), X.DOCS_SCHEMA)
    full = docs.unionByName(planted)
    media = multimodal.synth_media_pooled(spark, full, pool=13)
    return (multimodal.curate_interleaved_store(full, media)
            .select("doc_id", "n_spans", "n_media", "n_media_rewritten",
                    "n_tokens",
                    F.col("punct_ratio").cast("double").alias("punct_ratio"),
                    "quality_ok", "dup_group_size", "is_canonical",
                    "is_kept"))


Q116_SQL_COLS = ("doc_id, n_spans, n_media, n_media_rewritten, n_tokens, "
                 "punct_ratio, quality_ok, dup_group_size, is_canonical, "
                 "is_kept")


def _q116_sql() -> str:
    return (
        "SELECT doc_id, CAST(n_spans AS INT) AS n_spans,\n"
        "       CAST(n_media AS INT) AS n_media,\n"
        "       CAST(n_media_rewritten AS INT) AS n_media_rewritten,\n"
        "       CAST(n_tokens AS INT) AS n_tokens,\n"
        "       CAST(punct_ratio AS DOUBLE) AS punct_ratio,\n"
        "       CAST(quality_ok AS BOOLEAN) AS quality_ok,\n"
        "       CAST(dup_group_size AS INT) AS dup_group_size,\n"
        "       CAST(is_canonical AS BOOLEAN) AS is_canonical,\n"
        "       CAST(is_kept AS BOOLEAN) AS is_kept\n"
        "FROM (VALUES\n"
        + ",\n".join("  (" + ", ".join(repr(v) for v in row) + ")"
                     for row in _pinned.Q116_EXPECTED)
        + f"\n) AS t({Q116_SQL_COLS})"
    )


def q117_media_canonical(spark, sf_dir):
    """Perceptual media keep-list (the media q106): q115's cross-modal
    near-dup pairs resolved into connected components by the SHARED
    dup_clusters machinery (string refs, lexicographic-min cluster id),
    keeper = largest payload per cluster (the least-recompressed copy),
    singletons kept. Oracle: pinned union-find twin over the q115 pair
    twin + the single-sourced payload sizes."""
    from ..analytics import multimodal

    docs = X.docs_dataframe(spark, EXTRACT_N_DOCS)
    media = multimodal.synth_media_pooled_mixed(spark, docs, pool=5,
                                                jitter=3)
    return (multimodal.media_canonical(media, max_hamming=3)
            .select("media_ref", "kind", "cluster_id",
                    F.col("cluster_size").cast("long").alias("cluster_size"),
                    F.col("n_bytes").cast("long").alias("n_bytes"),
                    "is_kept"))


def _q117_sql() -> str:
    return (
        "SELECT media_ref, kind, cluster_id,\n"
        "       CAST(cluster_size AS BIGINT) AS cluster_size,\n"
        "       CAST(n_bytes AS BIGINT) AS n_bytes,\n"
        "       CAST(is_kept AS BOOLEAN) AS is_kept\n"
        "FROM (VALUES\n"
        + ",\n".join("  (" + ", ".join(repr(v) for v in row) + ")"
                     for row in _pinned.Q117_EXPECTED)
        + "\n) AS t(media_ref, kind, cluster_id, cluster_size, n_bytes,"
          " is_kept)"
    )


def q112_ivfpq_recall(spark, sf_dir):
    """IVF-PQ ANN accuracy gate — the full FAISS composition (Jégou et
    al. 2011 §IV): the q65 coarse quantizer picks WHICH vectors to rank
    (n_probe inverted lists), the q110 product quantizer shrinks WHAT is
    read per candidate (8x16 byte codes, ADC table lookups), exact-cosine
    rerank on the shortlist. The pinned numpy twin composes the q65 mask
    and q110 ADC verbatim, so it gates both pruning losses and the
    rerank at once. Pinned at sf0.01 (like q65/q101/q110)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivfpq_recall_vs_bruteforce(emb, [0, 7, 42, 99, 123],
                                                 k=5)


Q112_SQL = (
    "SELECT CAST(query_id AS BIGINT) AS query_id,\n"
    "       CAST(recall AS DOUBLE) AS recall\n"
    "FROM (VALUES\n"
    + ",\n".join(f"  ({q}, {r!r})" for q, r in _pinned.Q112_EXPECTED)
    + "\n) AS t(query_id, recall)"
)


def q111_bm25_index(spark, sf_dir):
    """BM25 against the persisted tf-carrying index (build-once/
    probe-many, the q93/q107 contract for ranked retrieval): postings
    (token, doc_id, dl, tf) partitionBy(token first byte) + a 1-row
    stats side — the probe partition-prunes to the query terms' bytes,
    joins nothing corpus-sized (dl is denormalized into the posting),
    and runs the exact same fixed-point scoring tail as q109. Oracle =
    Q109's (recomputed from the raw table): proves the index path
    bit-equals the corpus-scan path."""
    import os

    docs = _t(spark, sf_dir, "documents")
    path = ("/tmp/akf_q111_idx_"
            + os.path.normpath(sf_dir).strip("/").replace("/", "_"))
    text.write_bm25_index(docs, path)
    return text.bm25_rank_index(spark, path, ["data", "join", "vector"],
                                top_k=20)


Q111_SQL = Q109_SQL


REGISTRY: dict[str, tuple] = {
    "q01_pricing_summary": (q01_pricing_summary, Q01_SQL),
    "q02_top_customers": (q02_top_customers, Q02_SQL),
    "q03_order_priority": (q03_order_priority, Q03_SQL),
    "q04_region_rollup": (q04_region_rollup, Q04_SQL),
    "q05_parts_stats": (q05_parts_stats, Q05_SQL),
    "q06_revenue_filter": (q06_revenue_filter, Q06_SQL),
    "q07_topk_orders_per_customer": (q07_topk_orders_per_customer, Q07_SQL),
    "q08_running_total": (q08_running_total, Q08_SQL),
    "q09_sessionize": (q09_sessionize, Q09_SQL),
    "q10_lag_delta": (q10_lag_delta, Q10_SQL),
    "q11_customers_without_orders": (q11_customers_without_orders, Q11_SQL),
    "q12_range_join": (q12_range_join, Q12_SQL),
    "q13_event_pivot": (q13_event_pivot, Q13_SQL),
    "q14_rollup": (q14_rollup, Q14_SQL),
    "q15_events_hourly": (q15_events_hourly, Q15_SQL),
    "q16_cube": (q16_cube, Q16_SQL),
    "q17_except_intersect": (q17_except_intersect, Q17_SQL),
    "q18_json_props": (q18_json_props, Q18_SQL),
    "q19_asof_join": (q19_asof_join, Q19_SQL),
    "q20_token_count": (q20_token_count, Q20_SQL),
    "q21_quality": (q21_quality, Q21_SQL),
    "q22_langid": (q22_langid, Q22_SQL),
    "q23_fingerprint": (q23_fingerprint, Q23_SQL),
    "q24_dedup_exact": (q24_dedup_exact, Q24_SQL),
    "q25_minhash_bands": (q25_minhash_bands, Q25_SQL),
    "q26_simhash": (q26_simhash, Q26_SQL),
    "q27_embedding_topk": (q27_embedding_topk, Q27_SQL),
    "q28_lse_histogram": (q28_lse_histogram, Q28_SQL),
    "q29_lse_grouped": (q29_lse_grouped, Q29_SQL),
    "q30_extract_profile": (q30_extract_profile, Q30_SQL),
    "q31_extract_aufsichtsrat": (q31_extract_aufsichtsrat, Q31_SQL),
    "q32_extract_organbezuege": (q32_extract_organbezuege, Q32_SQL),
    "q33_spans_stats": (q33_spans_stats, Q33_SQL),
    "q34_extract_kurse": (q34_extract_kurse, Q34_SQL),
    "q35_lineage_counts": (q35_lineage_counts, Q35_SQL),
    "q36_extract_dividenden": (q36_extract_dividenden, Q36_SQL),
    "q37_extract_kennzahlen": (q37_extract_kennzahlen, Q37_SQL),
    "q38_extract_bilanzen": (q38_extract_bilanzen, Q38_SQL),
    "q39_extract_guv": (q39_extract_guv, Q39_SQL),
    "q42_extract_kapital": (q42_extract_kapital, Q42_SQL),
    "q43_extract_bb_head": (q43_extract_bb_head, Q43_SQL),
    "q44_extract_ergebnisabfuehrung": (q44_extract_ergebnisabfuehrung, Q44_SQL),
    "q45_extract_anteilseigner": (q45_extract_anteilseigner, Q45_SQL),
    "q46_extract_sitz": (q46_extract_sitz, Q46_SQL),
    "q47_unparsed_coverage": (q47_unparsed_coverage, Q47_SQL),
    "q48_ann_recall": (q48_ann_recall, Q48_SQL),
    "q40_crawl_schedule": (q40_crawl_schedule, Q40_SQL),
    "q41_crawl_seen_antijoin": (q41_crawl_seen_antijoin, Q41_SQL),
    "q49_dup_clusters": (q49_dup_clusters, Q49_SQL),
    "q50_lse_coupled": (q50_lse_coupled, Q50_SQL),
    "q51_lse_zumstein": (q51_lse_zumstein, Q51_SQL),
    "q52_validate_profiles": (q52_validate_profiles, Q52_SQL),
    "q53_extract_vorstand": (q53_extract_vorstand, Q53_SQL),
    "q54_extract_beteiligungen": (q54_extract_beteiligungen, Q54_SQL),
    "q55_extract_aktionaer": (q55_extract_aktionaer, Q55_SQL),
    "q56_extract_activity": (q56_extract_activity, Q56_SQL),
    "q57_extract_leitung_kommunikation": (
        q57_extract_leitung_kommunikation, Q57_SQL),
    "q58_extract_public_relations": (
        q58_extract_public_relations, Q58_SQL),
    "q59_extract_geschleitung": (q59_extract_geschleitung, Q59_SQL),
    "q60_extract_unternehmensvertraege": (
        q60_extract_unternehmensvertraege, Q60_SQL),
    "q61_media_features": (q61_media_features, Q61_SQL),
    "q62_audio_features": (q62_audio_features, Q62_SQL),
    "q63_video_features": (q63_video_features, Q63_SQL),
    "q64_extract_sonstige": (q64_extract_sonstige, Q64_SQL),
    "q65_ivf_recall": (q65_ivf_recall, Q65_SQL),
    "q66_lse_throw_audit": (q66_lse_throw_audit, Q66_SQL),
    "q67_training_mix": (q67_training_mix, Q67_SQL),
    "q68_ngram_jaccard": (q68_ngram_jaccard, Q68_SQL),
    "q69_simhash_near_dups": (q69_simhash_near_dups, Q69_SQL),
    "q70_embedding_near_dups": (q70_embedding_near_dups, Q70_SQL),
    "q71_minhash_candidates": (q71_minhash_candidates, Q71_SQL),
    "q72_token_count_bpe": (q72_token_count_bpe, Q72_SQL),
    "q73_rolling_fingerprints": (q73_rolling_fingerprints, Q73_SQL),
    "q74_fingerprint_containment": (q74_fingerprint_containment, Q74_SQL),
    "q75_repetition_scores": (q75_repetition_scores, Q75_SQL),
    "q76_training_mix_gated": (q76_training_mix_gated, Q76_SQL),
    "q77_pii_scan": (q77_pii_scan, Q77_SQL),
    "q78_decontaminate": (q78_decontaminate, Q78_SQL),
    "q79_sitemap_ingest": (q79_sitemap_ingest, Q79_SQL),
    "q80_pagerank": (q80_pagerank, Q80_SQL),
    "q81_kmv_distinct": (q81_kmv_distinct, Q81_SQL),
    "q82_hash_split": (q82_hash_split, Q82_SQL),
    "q83_sentence_dedup": (q83_sentence_dedup, Q83_SQL),
    "q84_profile_table": (q84_profile_table, Q84_SQL),
    "q85_cms_heavy_hitters": (q85_cms_heavy_hitters, Q85_SQL),
    "q86_kmv_set_ops": (q86_kmv_set_ops, Q86_SQL),
    "q87_zorder_key": (q87_zorder_key, Q87_SQL),
    "q88_pack_shards": (q88_pack_shards, Q88_SQL),
    "q89_quantize_embeddings": (q89_quantize_embeddings, Q89_SQL),
    "q90_int8_topk": (q90_int8_topk, Q90_SQL),
    "q91_freshness_recrawl": (q91_freshness_recrawl, Q91_SQL),
    "q92_crawl_delay_schedule": (q92_crawl_delay_schedule, Q92_SQL),
    "q93_minhash_index_probe": (q93_minhash_index_probe, Q93_SQL),
    "q94_learn_bpe": (q94_learn_bpe, Q94_SQL),
    "q95_stratified_sample": (q95_stratified_sample, Q95_SQL),
    "q96_kmeans_int8": (q96_kmeans_int8, Q96_SQL),
    "q97_bpe_tokenize_corpus": (q97_bpe_tokenize_corpus, Q97_SQL),
    "q98_host_rank": (q98_host_rank, Q98_SQL),
    "q99_repeated_spans": (q99_repeated_spans, Q99_SQL),
    "q100_lm_quality": (q100_lm_quality, Q100_SQL),
    "q101_ivf_int8_recall": (q101_ivf_int8_recall, Q101_SQL),
    "q102_unimax_mix": (q102_unimax_mix, Q102_SQL),
    "q103_cdc_chunks": (q103_cdc_chunks, Q103_SQL),
    "q104_dsir_weights": (q104_dsir_weights, Q104_SQL),
    "q105_semdedup": (q105_semdedup, Q105_SQL),
    "q106_quality_canonical": (q106_quality_canonical, Q106_SQL),
    "q107_keyword_search": (q107_keyword_search, Q107_SQL),
    "q108_curated_semantic_mix": (q108_curated_semantic_mix, Q108_SQL),
    "q109_bm25_rank": (q109_bm25_rank, Q109_SQL),
    "q110_pq_recall": (q110_pq_recall, Q110_SQL),
    "q111_bm25_index": (q111_bm25_index, Q111_SQL),
    "q112_ivfpq_recall": (q112_ivfpq_recall, Q112_SQL),
    "q113_media_dedup": (q113_media_dedup, Q113_SQL),
    "q114_media_near_dups": (q114_media_near_dups, Q114_SQL),
    "q115_crossmodal_near_dups": (q115_crossmodal_near_dups, Q115_SQL),
    "q116_interleaved_curation": (q116_interleaved_curation, _q116_sql()),
    "q117_media_canonical": (q117_media_canonical, _q117_sql()),
}
