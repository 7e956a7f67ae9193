"""Driver-contract query registry: Spark queries + DuckDB oracle SQL.

Each entry re-expresses one operator family from SURVEY.md §2 (or a
training-data-pipeline operator the 100TB engine needs: dedup,
similarity search, text analysis) as a Spark DataFrame/SQL query over
the driver-generated testdata parquet, paired with ANSI-ish SQL that
DuckDB runs on the same tables for value-level verification.

Determinism rules used throughout (so Spark and DuckDB hash-match):
* money/qty aggregates go through exact DECIMAL sums, then one exact
  cast to DOUBLE (magnitudes < 2^53 so the conversion is lossless);
  averages divide two exact values with IEEE division — bit-identical
  in both engines;
* token hashes use md5 (identical everywhere) reduced to a BIGINT via
  hex prefix — Spark `conv(substring(md5(t),1,8),16,10)`, DuckDB
  `('0x'||substr(md5(t),1,8))::BIGINT`;
* floating-point folds (dot products) are emitted as explicit
  left-to-right 64-term expression chains in BOTH engines, which makes
  the doubles bit-identical, no rounding tricks needed;
* every top-k has a total tie-break order.
"""

from __future__ import annotations

import os
from typing import Callable, Dict, Optional, Tuple, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# registry: name -> (spark_fn, oracle_sql | None); an oracle reading a
# fixture is a callable that contract.oracle_sql resolves on the driver
# (executors import the package from a zip with no fixtures)
OracleSql = Optional[Union[str, Callable[[], str]]]
_REGISTRY: Dict[str, Tuple[Callable[[SparkSession, str], DataFrame], OracleSql]] = {}


def register(name: str, sql: OracleSql):
    def deco(fn):
        _REGISTRY[name] = (fn, sql)
        return fn
    return deco


def load(spark: SparkSession, sf_dir: str, *names: str) -> list:
    return [spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names]


def views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for spark.sql use)."""
    for n in TABLES:
        spark.read.parquet(f"{sf_dir}/{n}.parquet").createOrReplaceTempView(n)


def spark_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    views(spark, sf_dir)
    return spark.sql(sql)


# ---------------------------------------------------------------------------
# Relational core (scans, filters, aggregations, joins, windows, set ops)
# ---------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 analog: the reference's only aggregations are projection
    profiles + counts (SURVEY §2.7); this is the canonical groupBy/agg
    with partial (map-side) aggregation and decimal-exact sums."""
    (li,) = load(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)"))
            .cast("double").alias("sum_disc_price"),
            (F.sum(dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_top_orders",
    """
    SELECT o.o_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           o.o_orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + top-k with total tie-break; customer side broadcast."""
    cust, orders, li = load(spark, sf_dir, "customer", "orders", "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(cust.where(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)"))
            .cast("double").alias("revenue")
        )
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@register(
    "q5_nation_revenue",
    """
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY n.n_name
    """,
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: small dims (nation/region/customer) broadcast explicitly."""
    li, orders, cust, nation, region = load(
        spark, sf_dir, "lineitem", "orders", "customer", "nation", "region"
    )
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    dims = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region.where(F.col("r_name").isin("ASIA", "EUROPE"))),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dims), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)"))
            .cast("double").alias("revenue")
        )
    )


@register(
    "pivot_status_matrix",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                THEN CAST(l_quantity AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                THEN CAST(l_quantity AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_status_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = load(spark, sf_dir, "lineitem")
    dec = F.col("l_quantity").cast("decimal(18,2)")
    zero = F.lit(0).cast("decimal(18,2)")
    return li.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("l_linestatus") == "O", dec).otherwise(zero))
        .cast("double").alias("qty_o"),
        F.sum(F.when(F.col("l_linestatus") == "F", dec).otherwise(zero))
        .cast("double").alias("qty_f"),
    )


@register(
    "rollup_region_nation",
    """
    SELECT r.r_name, n.n_name, COUNT(*) AS n_customers
    FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    """,
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, nation, region = load(spark, sf_dir, "customer", "nation", "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "anti_join_resume",
    """
    SELECT o.o_orderstatus, COUNT(*) AS n_orders
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey AND c.c_acctbal < 0)
    GROUP BY o.o_orderstatus
    """,
)
def anti_join_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The checkpoint-resume primitive: left_anti against 'done' keys
    (SURVEY §2.7 set ops)."""
    orders, cust = load(spark, sf_dir, "orders", "customer")
    done = cust.where(F.col("c_acctbal") < 0).select("c_custkey")
    return (
        orders.join(done, orders.o_custkey == done.c_custkey, "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "union_distinct_nations",
    """
    SELECT nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION
      SELECT s_nationkey AS nationkey FROM supplier
    ) t
    """,
)
def union_distinct_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, supp = load(spark, sf_dir, "customer", "supplier")
    return (
        cust.select(F.col("c_nationkey").alias("nationkey"))
        .union(supp.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )


@register(
    "sessionize_events",
    """
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM gaps GROUP BY user_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag/window — the relational analog of the
    reference's run-length bloc detection (G2, SURVEY §2.3).

    The gap compares integer epoch MICROSECONDS in both engines
    (unix_micros / epoch_us): unix_timestamp truncates to whole seconds
    while DuckDB's epoch() keeps fractional seconds, so a true gap in
    (1800s, 1801s) split the engines depending on sub-second phase —
    and whole-second truncation also misclassified such gaps as
    same-session outright (code-review fix; events_asof_join already
    uses integer microseconds end to end)."""
    (events,) = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = ts_us - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    new_session = (
        F.when(gap > 1_800_000_000, 1)
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0)
    )
    return (
        events.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("bigint").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "topk_docs_per_lang",
    """
    SELECT lang, doc_id, n_chars FROM (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    ) t WHERE rn <= 3
    """,
)
def topk_docs_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(F.desc("n_chars"), "doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("lang", "doc_id", "n_chars")
    )


@register(
    "running_user_value",
    """
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_value
    FROM events
    """,
)
def running_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered running aggregate — the reference's order-dependent fold
    (G5 SizeOfChar) is exactly this shape (SURVEY §2.3)."""
    (events,) = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double")
        .alias("running_value"),
    )


@register(
    "string_label_extract",
    """
    SELECT doc_id,
           regexp_extract(source, 'src([0-9]+)', 1) AS src_num,
           upper(lang) AS lang_uc,
           concat_ws('/', lang, source) AS path
    FROM documents
    """,
)
def string_label_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 analog: label extraction from a path-like column + case coercion."""
    (docs,) = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract("source", "src([0-9]+)", 1).alias("src_num"),
        F.upper("lang").alias("lang_uc"),
        F.concat_ws("/", "lang", "source").alias("path"),
    )


@register(
    "stratified_split",
    """
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS cnt
      FROM documents)
    SELECT doc_id, lang,
           CASE WHEN rn <= (cnt * 4) // 5 THEN 'train' ELSE 'val' END AS split
    FROM ranked
    """,
)
def stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 analog — per-class 80/20 split (reference
    split_dataset_stratified training.c:64-106: per-class shuffle, first
    floor(total*4/5) to train).  The shuffle is a deterministic md5
    ordering so the oracle can verify values (the reference uses
    srand(time) — non-reproducible by design; SURVEY §7.0)."""
    (docs,) = load(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    wc = W.partitionBy("lang")
    return (
        docs.select(
            "doc_id", "lang",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(wc).alias("cnt"),
        )
        .select(
            "doc_id", "lang",
            F.when(F.col("rn") <= (F.col("cnt") * 4) / 5, "train")
            .otherwise("val").alias("split"),
        )
    )


@register(
    "json_props_extract",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )


@register(
    "events_asof_join",
    """
    WITH r AS (SELECT user_id, ts, MAX(event_id) AS prior_event_id
               FROM events WHERE event_type = 'signup'
               GROUP BY user_id, ts),
    l AS (SELECT event_id, user_id, ts, value FROM events
          WHERE event_type = 'purchase')
    SELECT l.event_id, l.user_id, l.value,
           CAST(epoch_us(l.ts) AS BIGINT) AS ts_us,
           r.prior_event_id,
           CAST(epoch_us(l.ts) - epoch_us(r.ts) AS BIGINT) AS signup_gap_us
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — each purchase picks the user's most recent
    at-or-before signup.  Spark has no ASOF JOIN operator (DuckDB
    does, hence the one-line oracle); the naive translation is a range
    join (l JOIN r ON user AND r.ts <= l.ts, then max) whose
    intermediate explodes as |l per user| x |r per user|.

    Scale shape — the union-window trick: tag both sides into ONE
    frame, sort per user by (ts, side) with the right side first on
    ties, and carry the right row forward with last(ignorenulls) over
    an unbounded-preceding window.  One hash exchange on user_id + one
    sort, zero joins, no quadratic blowup; ties in ts are made
    deterministic by pre-reducing the right side to one row per
    (user_id, ts) (max event_id) in BOTH engines.  Timestamps compare
    as integer epoch-microseconds end to end."""
    (events,) = load(spark, sf_dir, "events")
    r = (
        events.where(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("prior_event_id"))
        .select(
            "user_id", "ts",
            F.lit(None).cast("bigint").alias("event_id"),
            F.lit(None).cast("double").alias("value"),
            "prior_event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("r_ts_us"),
            F.lit(0).alias("side"),
        )
    )
    l = events.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value",
        F.lit(None).cast("bigint").alias("prior_event_id"),
        F.lit(None).cast("bigint").alias("r_ts_us"),
        F.lit(1).alias("side"),
    )
    u = r.unionByName(l)
    w = (
        W.partitionBy("user_id").orderBy("ts", "side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = u.select(
        "*",
        F.last("prior_event_id", ignorenulls=True).over(w).alias("c_prior"),
        F.last("r_ts_us", ignorenulls=True).over(w).alias("c_rts"),
    ).where(F.col("side") == 1)
    # ts is TIMESTAMP_NTZ in the parquet; the session tz is pinned UTC,
    # so the cast to TIMESTAMP (required by unix_micros) is exact
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    return carried.select(
        "event_id", "user_id", "value",
        ts_us.alias("ts_us"),
        F.col("c_prior").alias("prior_event_id"),
        (ts_us - F.col("c_rts")).cast("bigint").alias("signup_gap_us"),
    )


# ---------------------------------------------------------------------------
# Changelog merge-on-read (the Iceberg v2 MoR read path, expressed as a
# plan): a base snapshot plus a versioned insert/update/delete changelog
# resolve to the current view by keeping each key's highest-version row
# and dropping keys whose latest op is a delete.  The sandbox has no
# Iceberg jars (BENCH/BASELINE notes), so the FORMAT is out of reach —
# but the merge semantics its readers implement are exactly this
# one-window plan, and pinning it keeps the engine's upsert story
# checkable.  The changelog is derived deterministically from the
# sanctioned corpus: every 7th doc updated at v1, every 11th deleted at
# v2 (keys divisible by both get update-then-delete — the delete wins).
# ---------------------------------------------------------------------------

_MOR_DUCK = """
WITH base AS (SELECT doc_id, 0 AS version, 'I' AS op, text FROM documents),
upd AS (SELECT doc_id, 1, 'U', 'v2 ' || text FROM documents WHERE doc_id % 7 = 0),
del AS (SELECT doc_id, 2, 'D', CAST(NULL AS VARCHAR) FROM documents
        WHERE doc_id % 11 = 0),
log AS (SELECT * FROM base UNION ALL SELECT * FROM upd
        UNION ALL SELECT * FROM del),
w AS (SELECT doc_id, version, op, text,
             row_number() OVER (PARTITION BY doc_id ORDER BY version DESC)
               AS rn,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_versions
      FROM log)
SELECT doc_id, CAST(version AS BIGINT) AS cur_version, op,
       md5(text) AS text_md5, CAST(n_versions AS BIGINT) AS n_versions
FROM w WHERE rn = 1 AND op <> 'D'
"""


@register("changelog_merge_read", _MOR_DUCK)
def changelog_merge_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read over a versioned changelog: union base + deltas,
    ONE hash shuffle on the key, latest-version-wins via row_number,
    delete ops filtered after the pick.

    100 TB shape: this is the read-side plan of an upsert table — the
    union never materializes a join (equality deletes apply as a
    window, not an anti-join), both window functions share the single
    doc_id partitioning, and at scale the base snapshot arrives
    key-clustered so the exchange degenerates to a local sort.  Skew
    is bounded by versions-per-key (here <=3; a hot key's history is
    still one partition's sorted run)."""
    (docs,) = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.lit(0).alias("version"), F.lit("I").alias("op"), "text"
    )
    upd = docs.where(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.lit(1).alias("version"), F.lit("U").alias("op"),
        F.concat(F.lit("v2 "), F.col("text")).alias("text"),
    )
    dele = docs.where(F.col("doc_id") % 11 == 0).select(
        "doc_id", F.lit(2).alias("version"), F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("text"),
    )
    log = base.unionAll(upd).unionAll(dele)
    win = W.partitionBy("doc_id").orderBy(F.desc("version"))
    return (
        log.select(
            "doc_id", "version", "op", "text",
            F.row_number().over(win).alias("rn"),
            F.count("*").over(W.partitionBy("doc_id")).alias("n_versions"),
        )
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "doc_id",
            F.col("version").cast("bigint").alias("cur_version"),
            "op",
            F.md5("text").alias("text_md5"),
            F.col("n_versions").cast("bigint").alias("n_versions"),
        )
    )


# ---------------------------------------------------------------------------
# Data-quality constraint validation (Deequ-style data contract)
# ---------------------------------------------------------------------------

# The validation gate every production ingest runs before data reaches
# training: completeness / uniqueness / consistency / value-domain /
# range constraints, evaluated as ONE conditional-aggregate pass per
# table (never one job per check — at 10^12 rows a 7-check suite must
# not cost 7 scans).  Inject-then-detect per house convention: the
# driver testdata is clean, so deterministic doc_id-derived violations
# are injected identically in both engines (NULL text/lang, bad lang
# code, corrupted n_chars, out-of-range n_chars, duplicated doc_ids)
# and the checker must count exactly the injected slice; the untouched
# checks (doc_id completeness, every embeddings constraint) pin the
# pass direction, so the output exercises both verdicts.

_DQ_LANGS = ("de", "en", "es", "fr", "zh")
_DQ_DOC_CHECKS = [
    "completeness_text", "completeness_lang", "uniqueness_doc_id",
    "consistency_n_chars", "domain_lang", "range_n_chars",
    "completeness_doc_id",
]
_DQ_EMB_CHECKS = [
    "uniqueness_vec_id", "consistency_embedding_dim", "domain_label",
]


def _dq_duck() -> str:
    langs = ", ".join(f"'{x}'" for x in _DQ_LANGS)
    doc_rows = "\nUNION ALL\n".join(
        f"SELECT 'documents' AS table_name, '{c}' AS check_name, n_rows, "
        f"{c} AS n_violations, {c} = 0 AS passed FROM d"
        for c in _DQ_DOC_CHECKS
    )
    emb_rows = "\nUNION ALL\n".join(
        f"SELECT 'embeddings', '{c}', n_rows, {c}, {c} = 0 FROM e"
        for c in _DQ_EMB_CHECKS
    )
    return f"""
    WITH dirty AS (
      SELECT doc_id,
             CASE WHEN doc_id % 23 = 0 THEN NULL ELSE text END AS text,
             CASE WHEN doc_id % 17 = 0 THEN NULL
                  WHEN doc_id % 29 = 0 THEN 'zz' ELSE lang END AS lang,
             CASE WHEN doc_id % 31 = 0 THEN -5
                  WHEN doc_id % 13 = 0 THEN n_chars + 1
                  ELSE n_chars END AS n_chars
      FROM documents
      UNION ALL
      SELECT doc_id, text, lang, n_chars FROM documents
      WHERE doc_id % 101 = 0),
    d AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN text IS NULL OR length(text) = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS completeness_text,
             CAST(SUM(CASE WHEN lang IS NULL OR lang = ''
                           THEN 1 ELSE 0 END) AS BIGINT) AS completeness_lang,
             CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT)
               AS uniqueness_doc_id,
             CAST(SUM(CASE WHEN text IS NOT NULL AND n_chars <> length(text)
                           THEN 1 ELSE 0 END) AS BIGINT) AS consistency_n_chars,
             CAST(SUM(CASE WHEN lang IS NOT NULL AND lang NOT IN ({langs})
                           THEN 1 ELSE 0 END) AS BIGINT) AS domain_lang,
             CAST(SUM(CASE WHEN n_chars < 1 OR n_chars > 1000000
                           THEN 1 ELSE 0 END) AS BIGINT) AS range_n_chars,
             CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS completeness_doc_id
      FROM dirty),
    e AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) - COUNT(DISTINCT vec_id) AS BIGINT)
               AS uniqueness_vec_id,
             CAST(SUM(CASE WHEN len(embedding) <> 64 THEN 1 ELSE 0 END)
               AS BIGINT) AS consistency_embedding_dim,
             CAST(SUM(CASE WHEN label < 0 OR label > 9 THEN 1 ELSE 0 END)
               AS BIGINT) AS domain_label
      FROM embeddings)
    {doc_rows}
    UNION ALL
    {emb_rows}
    """


@register("data_quality_checks", _dq_duck())
def data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-contract validation: the whole constraint suite
    as ONE conditional-aggregate pass per table.

    Each check is a conditional SUM inside a single agg (map-side
    partial aggregation, one narrow counter row per partition crosses
    the exchange); the per-check verdict rows are exploded from that
    one aggregate row, so a 7-constraint suite over 10^12 documents
    costs one scan, not seven jobs.  The only non-combinable counter is
    exact uniqueness (COUNT DISTINCT -> Expand rewrite, still one
    scan); production swaps it for approx_count_distinct when the
    uniqueness tolerance allows, same plan otherwise.  Violations are
    injected deterministically from doc_id (both engines identically):
    NULL text (%23), NULL lang (%17), invalid lang code (%29),
    corrupted n_chars (%13), out-of-range n_chars (%31), duplicated
    doc_ids (%101 re-appended).  doc_id completeness and all three
    embeddings constraints are left clean, pinning the pass direction.
    """
    docs, emb = load(spark, sf_dir, "documents", "embeddings")
    did = F.col("doc_id")
    dirty = docs.select(
        "doc_id",
        F.when(did % 23 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("text")).alias("text"),
        F.when(did % 17 == 0, F.lit(None).cast("string"))
        .when(did % 29 == 0, F.lit("zz"))
        .otherwise(F.col("lang")).alias("lang"),
        F.when(did % 31 == 0, F.lit(-5).cast("bigint"))
        .when(did % 13 == 0, F.col("n_chars") + 1)
        .otherwise(F.col("n_chars")).alias("n_chars"),
    ).unionAll(
        docs.where(did % 101 == 0).select("doc_id", "text", "lang", "n_chars")
    )

    def viol(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    d = dirty.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        viol(F.col("text").isNull() | (F.length("text") == 0))
        .alias("completeness_text"),
        viol(F.col("lang").isNull() | (F.col("lang") == ""))
        .alias("completeness_lang"),
        (F.count("*") - F.count_distinct("doc_id")).cast("bigint")
        .alias("uniqueness_doc_id"),
        viol(F.col("text").isNotNull()
             & (F.col("n_chars") != F.length("text")))
        .alias("consistency_n_chars"),
        viol(F.col("lang").isNotNull() & ~F.col("lang").isin(*_DQ_LANGS))
        .alias("domain_lang"),
        viol((F.col("n_chars") < 1) | (F.col("n_chars") > 1000000))
        .alias("range_n_chars"),
        viol(F.col("doc_id").isNull()).alias("completeness_doc_id"),
    )
    e = emb.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        (F.count("*") - F.count_distinct("vec_id")).cast("bigint")
        .alias("uniqueness_vec_id"),
        viol(F.size("embedding") != 64).alias("consistency_embedding_dim"),
        viol((F.col("label") < 0) | (F.col("label") > 9))
        .alias("domain_label"),
    )

    def check_rows(aggdf: DataFrame, table: str, checks: list) -> DataFrame:
        return (
            aggdf.select(
                F.explode(
                    F.array(*[
                        F.struct(
                            F.lit(table).alias("table_name"),
                            F.lit(c).alias("check_name"),
                            F.col("n_rows").alias("n_rows"),
                            F.col(c).alias("n_violations"),
                        )
                        for c in checks
                    ])
                ).alias("c")
            )
            .select("c.*")
            .withColumn("passed", F.col("n_violations") == 0)
        )

    return check_rows(d, "documents", _DQ_DOC_CHECKS).unionAll(
        check_rows(e, "embeddings", _DQ_EMB_CHECKS)
    )


# ---------------------------------------------------------------------------
# Interval/range join via bucket decomposition
# ---------------------------------------------------------------------------

# Point-in-interval join with NO equality key (events vs global
# maintenance windows) — the query shape Spark plans as a
# BroadcastNestedLoopJoin, which is O(points x intervals) and a
# scale-killer when the interval side outgrows a broadcast.  The scale
# plan is bucket decomposition: quantize time into stride-sized
# buckets, explode each interval to the buckets it overlaps, collapse
# to ONE row per bucket carrying the (bounded) candidate-interval
# array, then equi-join points on their single bucket and finish the
# range predicate in-row over the array.  The join becomes a broadcast
# (or plain hash) join on bucket; no per-pair rows ever materialize.
# Windows are derived deterministically from the corpus time span in
# integer epoch-micros (both engines identically); even windows are
# 1.5 strides wide (adjacent overlap) and odd windows 0.5 (gaps), so
# n_windows = 0, 1 and 2 are all exercised by real rows.

_IVJ_K = 40

_IVJ_DUCK = f"""
    WITH b AS (
      SELECT epoch_us(MIN(ts)) AS mn, epoch_us(MAX(ts)) AS mx FROM events),
    s AS (
      SELECT mn, mx, GREATEST((mx - mn) // {_IVJ_K}, 1) AS stride FROM b),
    w AS (
      SELECT CAST(i AS BIGINT) AS window_id,
             mn + i * stride AS lo,
             mn + i * stride
                + CASE WHEN i % 2 = 0 THEN (stride * 3) // 2
                       ELSE stride // 2 END AS hi
      FROM s, range({_IVJ_K}) t(i)),
    m AS (
      SELECT e.event_id, w.window_id
      FROM events e JOIN w
        ON epoch_us(e.ts) >= w.lo AND epoch_us(e.ts) < w.hi)
    SELECT e.event_id,
           CAST(COUNT(m.window_id) AS BIGINT) AS n_windows,
           CAST(COALESCE(MIN(m.window_id), -1) AS BIGINT) AS first_window_id
    FROM events e LEFT JOIN m ON e.event_id = m.event_id
    GROUP BY e.event_id
    """


@register("interval_overlap_join", _IVJ_DUCK)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (point-in-interval, no equality key) via bucket
    decomposition.

    The oracle states the semantics as the naive range join; the Spark
    plan is the one that survives 10^12 points: intervals explode to
    the stride-buckets they overlap (bounded fan-out: width/stride <= 2
    by construction, so <= 3 buckets each), one array row per bucket,
    points equi-join on their single bucket (broadcast here; plain
    shuffle-hash when the interval side is huge), and the range
    predicate runs in-row over the bounded candidate array — per-pair
    rows never exist, and the per-event aggregate is computed by the
    same in-row filter instead of a second shuffle on event_id.
    Timestamps compare as integer epoch-micros end to end (session tz
    pinned UTC, same rule as events_asof_join)."""
    (events,) = load(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    pts = events.select("event_id", ts_us.alias("ts_us"))
    bounds = pts.agg(
        F.min("ts_us").alias("mn"), F.max("ts_us").alias("mx")
    ).select("mn", F.expr(f"greatest((mx - mn) DIV {_IVJ_K}, 1L)").alias("stride"))
    wins = (
        bounds.select(
            "mn", "stride",
            F.explode(
                F.sequence(F.lit(0).cast("bigint"),
                           F.lit(_IVJ_K - 1).cast("bigint"))
            ).alias("window_id"),
        )
        .select(
            "window_id", "stride",
            (F.col("mn") + F.col("window_id") * F.col("stride")).alias("lo"),
        )
        .select(
            "window_id", "stride", "lo",
            (
                F.col("lo")
                + F.when(F.col("window_id") % 2 == 0,
                         F.expr("(stride * 3) DIV 2"))
                .otherwise(F.expr("stride DIV 2"))
            ).alias("hi"),
        )
    )
    wbuckets = wins.select(
        "window_id", "lo", "hi",
        F.explode(
            F.sequence(F.expr("lo DIV stride"), F.expr("(hi - 1) DIV stride"))
        ).alias("bucket"),
    )
    btable = wbuckets.groupBy("bucket").agg(
        F.array_sort(
            F.collect_list(F.struct("window_id", "lo", "hi"))
        ).alias("wins")
    )
    e = pts.crossJoin(F.broadcast(bounds.select("stride"))).withColumn(
        "bucket", F.expr("ts_us DIV stride")
    )
    joined = e.join(F.broadcast(btable), "bucket", "left")
    matched = F.filter(
        F.col("wins"),
        lambda w: (F.col("ts_us") >= w["lo"]) & (F.col("ts_us") < w["hi"]),
    )
    return joined.select(
        "event_id",
        F.when(F.col("wins").isNull(), F.lit(0))
        .otherwise(F.size(matched)).cast("bigint").alias("n_windows"),
        F.coalesce(
            F.array_min(F.transform(matched, lambda w: w["window_id"])),
            F.lit(-1),
        ).cast("bigint").alias("first_window_id"),
    )


# ---------------------------------------------------------------------------
# Event-time sliding-window aggregate (RANGE frame)
# ---------------------------------------------------------------------------

# Trailing 24h per-user counters at every event — the batch twin of the
# streaming windowed counts, but with a TRUE event-time RANGE frame
# (every row gets its own trailing window) instead of fixed tumbling
# buckets.  Float hazard note: Spark's sliding-frame aggregation adds
# rows incrementally in sort order while DuckDB evaluates window sums
# with a segment tree, so a DOUBLE sum would depend on ADDITION ORDER
# and break the cross-engine hash even though both are "correct".  The
# metric therefore goes to integer cents first (round(value*100) —
# value carries 2 decimals, so the product is never a .5 case and
# half-up vs half-even cannot diverge), and the frame sums BIGINTs,
# which are order-independent.

_SLIDE_US = 86_400_000_000  # 24h in epoch-micros

_SLIDE_DUCK = f"""
    WITH e AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events)
    SELECT event_id, user_id, ts_us,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_24h,
           CAST(SUM(cents) OVER w AS BIGINT) AS sum_cents_24h
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                 RANGE BETWEEN {_SLIDE_US} PRECEDING AND CURRENT ROW)
    """


@register("sliding_event_window", _SLIDE_DUCK)
def sliding_event_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-24h counters via an event-time RANGE frame.

    One hash exchange on user_id + one per-partition sort — the
    canonical time-series windowing plan; the frame itself adds no
    shuffle.  At 10^12 events the partition key is the user (bounded
    per-user history), and a pathologically hot user is handled
    upstream by retention bounding, not by salting — a salted key would
    split the very frame the query defines.  RANGE (not ROWS) so
    same-timestamp peers enter the frame together, which both engines
    define identically; the summed metric is integer cents, making the
    result independent of each engine's frame-summation order."""
    (events,) = load(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    e = events.select(
        "event_id", "user_id", ts_us.alias("ts_us"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-_SLIDE_US, W.currentRow)
    )
    return e.select(
        "event_id", "user_id", "ts_us",
        F.count("*").over(w).cast("bigint").alias("n_24h"),
        F.sum("cents").over(w).cast("bigint").alias("sum_cents_24h"),
    )


# ---------------------------------------------------------------------------
# Snapshot time travel (versioned table layer, snapshot_store.py)
# ---------------------------------------------------------------------------

# Drives the Iceberg-analog snapshot layer end to end under the value
# oracle: three commits (initial overwrite, append, GDPR-delete
# rewrite reading the table's own previous snapshot), then TIME-TRAVEL
# reads of all three versions — so the oracle breaks if a commit
# mutates an old version's files, an append loses the parent's data
# dirs, or the overwrite still sees deleted rows.

_SNAP_DUCK = """
    WITH v1 AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 = 0),
    v2 AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 IN (0, 1)),
    v3 AS (SELECT * FROM v2 WHERE doc_id % 5 <> 0)
    SELECT CAST(1 AS BIGINT) AS version, 'overwrite' AS op,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS sum_doc_id,
           CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS sum_n_chars
    FROM v1
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'append', CAST(COUNT(*) AS BIGINT),
           CAST(COALESCE(SUM(doc_id), 0) AS BIGINT),
           CAST(COALESCE(SUM(n_chars), 0) AS BIGINT)
    FROM v2
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'overwrite', CAST(COUNT(*) AS BIGINT),
           CAST(COALESCE(SUM(doc_id), 0) AS BIGINT),
           CAST(COALESCE(SUM(n_chars), 0) AS BIGINT)
    FROM v3
    """


@register("snapshot_time_travel", _SNAP_DUCK)
def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit three snapshots to a snapshot_store table and aggregate
    each via a time-travel read.

    v1 = initial overwrite (doc_id % 3 == 0), v2 = append of the
    % 3 == 1 slice (manifest must carry v1's data dir forward), v3 =
    delete-rewrite: READ the current snapshot, drop doc_id % 5 == 0,
    commit as overwrite — the lakehouse GDPR-delete pattern (new data
    dir, old versions untouched and still readable).  The returned
    frame reads v1, v2, v3 by explicit version, so time travel itself
    is under the driver's value hash.  Metadata is O(commits); each
    read plans a plain pruned parquet scan (snapshot_store.py scale
    notes).

    The table dir is DETERMINISTIC per (user, sf_dir) and rebuilt from
    scratch on every call — repeated bench/correctness runs reuse one
    path instead of leaking a fresh mkdtemp each invocation (review
    fix; the commits are eager by design, so the returned frame reads
    files that exist for the caller's whole action)."""
    import hashlib
    import shutil
    import tempfile

    from . import snapshot_store as ss

    (docs,) = load(spark, sf_dir, "documents")
    base = docs.select("doc_id", "n_chars")
    # keyed by (sf_dir, pid): deterministic within a process (repeated
    # runs reuse one path, no mkdtemp leak) yet disjoint across
    # processes — two gates pointed at the same sf concurrently (bench
    # + a correctness run) must not rmtree files under each other's
    # still-lazy frames (ADVICE r3).  Serial consume discipline within
    # one process is still required and documented in BENCH/NOTES.md.
    tbl = os.path.join(
        tempfile.gettempdir(),
        f"ocrgang_snap_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
        f"_p{os.getpid()}",
    )
    shutil.rmtree(tbl, ignore_errors=True)

    ss.commit_snapshot(spark, tbl, base.where(F.col("doc_id") % 3 == 0),
                       op="overwrite")
    ss.commit_snapshot(spark, tbl, base.where(F.col("doc_id") % 3 == 1),
                       op="append")
    rewritten = ss.read_snapshot(spark, tbl).where(F.col("doc_id") % 5 != 0)
    ss.commit_snapshot(spark, tbl, rewritten, op="overwrite")

    parts = []
    for v, op in ((1, "overwrite"), (2, "append"), (3, "overwrite")):
        parts.append(
            ss.read_snapshot(spark, tbl, version=v).agg(
                F.lit(v).cast("bigint").alias("version"),
                F.lit(op).alias("op"),
                F.count("*").cast("bigint").alias("n_rows"),
                F.coalesce(F.sum("doc_id"), F.lit(0)).cast("bigint")
                .alias("sum_doc_id"),
                F.coalesce(F.sum("n_chars"), F.lit(0)).cast("bigint")
                .alias("sum_n_chars"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# ---------------------------------------------------------------------------
# Salted shuffle join for hot keys (explicit relational skew treatment)
# ---------------------------------------------------------------------------

# The relational twin of the pipeline's explode-based media skew
# treatment (pipeline.py module docstring): when BOTH join sides are
# too big to broadcast and one key owns a large fraction of the fact
# rows, a plain shuffle join sends every hot-key row to ONE reducer —
# the stage runs at the speed of that task.  The salted plan splits
# the hot key S ways (fact side: deterministic salt from the row id;
# dim side: each row replicated to all S salts), joins on (key, salt),
# and re-aggregates.  Decision ladder the docstring pins: broadcast
# first (dim fits), AQE skew-join second (config-on, post-hoc split),
# explicit salting when the dim is big AND the skew is known — it is
# the only one of the three that also fixes the downstream groupBy by
# pre-splitting it.
#
# Inject-then-detect: user_id % 5 < 2 collapses to one 'hot' key (~40%
# of the fact), the rest stay unique — both engines derive the same
# dim from the same corpus, so the oracle is the PLAIN join (the
# semantics), while the Spark side runs the salted plan (the
# physical strategy), pinned by tests/test_plans.py.

SALT_S = 8
_SJ_KEY_DUCK = ("CASE WHEN user_id % 5 < 2 THEN 'hot' "
                "ELSE 'u' || CAST(user_id AS VARCHAR) END")

_SALTED_JOIN_DUCK = f"""
    WITH f AS (SELECT event_id, {_SJ_KEY_DUCK} AS ukey FROM events),
    d AS (SELECT DISTINCT {_SJ_KEY_DUCK} AS ukey,
                 substr(md5(CASE WHEN user_id % 5 < 2 THEN 'hot'
                            ELSE 'u' || CAST(user_id AS VARCHAR) END), 1, 4)
                   AS attr
          FROM events)
    SELECT f.ukey, CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(d.attr) AS attr
    FROM f JOIN d ON f.ukey = d.ukey
    GROUP BY f.ukey
    """


@register("salted_hot_key_join", _SALTED_JOIN_DUCK)
def salted_hot_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key fact-dim join via explicit salting.

    Fact side gets salt = md5(event_id) % S (deterministic, uniform);
    the dim replicates each row to all S salts (a bounded x{SALT_S}
    explode of the SMALL side only); the equi-join runs on
    (ukey, salt), so the hot key's rows spread over {SALT_S} reducers
    instead of one, and the final per-key aggregate combines {SALT_S}
    partial rows — the same two-phase shape as domain_quota_sample.
    shuffle_hash hint keeps the demo honest: Spark would broadcast
    this tiny dim away (and broadcast IS the first-choice fix); the
    salted-shuffle plan is for when it can't."""
    (events,) = load(spark, sf_dir, "events")
    ukey = F.when(F.col("user_id") % 5 < 2, F.lit("hot")).otherwise(
        F.concat(F.lit("u"), F.col("user_id").cast("string"))
    )
    fact = events.select(
        "event_id", ukey.alias("ukey"),
        (F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 4),
                16, 10).cast("bigint") % SALT_S).alias("salt"),
    )
    dim = (
        events.select(ukey.alias("ukey")).distinct()
        .select(
            "ukey",
            F.substring(F.md5(F.col("ukey")), 1, 4).alias("attr"),
            F.explode(
                F.sequence(F.lit(0).cast("bigint"),
                           F.lit(SALT_S - 1).cast("bigint"))
            ).alias("salt"),
        )
    )
    joined = fact.join(dim.hint("shuffle_hash"), ["ukey", "salt"])
    return joined.groupBy("ukey").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.min("attr").alias("attr"),
    )
