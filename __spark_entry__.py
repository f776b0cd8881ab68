"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline over sf0.001.
``queries()`` exposes one DataFrame-builder per implemented operator
family from SURVEY.md §2 plus the training-data ops (dedup, similarity,
text quality); ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL.
Column names and types are aligned on both sides; float aggregates are
rounded identically; md5 is the only hash used (bit-identical engines).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

from document_ai_spark import constants as C                      # noqa: E402
from document_ai_spark.functions import extraction as X          # noqa: E402
from document_ai_spark.functions.tokenize import (                # noqa: E402
    ALPHA_RANGES,
    CJK_RANGES,
    WS_RANGES,
    WS_STRIP_RE,
    duck_tokens_sql,
    ws_trim,
    ws_trim_sql,
)
from document_ai_spark.operators import dedup as D               # noqa: E402
from document_ai_spark.operators import similarity as S          # noqa: E402
from document_ai_spark.operators import textquality as TQ        # noqa: E402
from document_ai_spark.session import fan_out                    # noqa: E402

SF0001 = "/root/testdata/sf0.001"

# DuckDB mirror of the script-aware tokenizer (functions/tokenize.py):
# RE2 reads the exact same \x{hhhh}-range pattern Java regex does, so
# both engines produce identical token arrays (tests/test_cjk_tokenize).
_DUCK_TOKS = duck_tokens_sql("text")


def _dtrim(e: str) -> str:
    """DuckDB-side engine-parity trim: strip WS_RANGES chars from both
    ends (DuckDB's native trim() strips the full Unicode Zs set — incl.
    NBSP/U+3000 — while Spark's strips only U+0020; shared rules must
    use this explicit form on both engines)."""
    return f"regexp_replace({e}, '{WS_STRIP_RE}', '', 'g')"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text) pre-sorted by doc_id — the round-6 shape for the
    per-document map-heavy queries (tokenize/md5/HOF families): sorting
    the RAW rows first and computing ABOVE the range exchange (the final
    select keeps the heavy projection over the Sort) fixes two measured
    costs of `compute().orderBy(doc_id)` at once. (1) Double compute:
    range partitioning SAMPLES its child by executing it in full, so a
    heavy projection below the sort runs twice per query (guide §7.2 —
    measured 2x on simhash at sf1.0). (2) Serial compute: the bench
    tables are single-row-group parquet files, so the pre-exchange
    projection runs in ONE scan task regardless of split config; above
    the range exchange it runs once per post-shuffle partition (all
    cores). Sorting (doc_id, text) instead of (doc_id, tiny-result)
    shuffles ~300 B/row more — orders of magnitude cheaper than the
    per-row compute it parallelizes, at bench scale and at cluster
    scale alike. Output ordering is unchanged: a projection above a
    sort preserves both intra- and inter-partition order."""
    return (_t(spark, sf_dir, "documents")
            .select("doc_id", "text").orderBy("doc_id"))


# ---------------------------------------------------------------------------
# entry: flagship — run the REAL extraction pipeline over the driver corpus
# (each documents row = a one-text-span interleaved doc).
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    from document_ai_spark.plans.pipeline import extract
    from document_ai_spark.sources.docgen import payload_schema

    docs = _t(spark, SF0001, "documents").select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.array(F.struct(
            F.lit("text").alias("kind"),
            F.col("text").alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(0).alias("offset"),
        )).alias("spans"),
    )
    payloads = spark.createDataFrame([], schema=payload_schema())
    ext = extract(docs, payloads)
    return ext.select(
        "doc_id", "dealer_name", "model_name", "horse_power", "asset_cost",
        "overall_confidence", "combined_text",
    )


# ---------------------------------------------------------------------------
# Shared query/oracle definitions.
# Each item: name -> (spark_fn, sql_or_None)
# ---------------------------------------------------------------------------

_HP_PLANT = "concat(text, ' ', cast(20 + doc_id % 181 as string), ' HP')"
_COST_PLANT = ("concat(text, ' Total: Rs. ', "
               "cast(100000 + doc_id * 137 as string), "
               "' Advance: Rs. ', cast(10001 + doc_id as string))")


def _q_pricing_summary(spark, sf):
    li = _t(spark, sf, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
             .cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
             .cast("double").alias("sum_base_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def _q_top_orders(spark, sf):
    return (
        _t(spark, sf, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey",
                F.round("o_totalprice", 2).alias("totalprice"))
    )


_SQL_TOP_ORDERS = """
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


def _q_cust_order_join(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"),
             F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").alias("sum_price"))
        .orderBy("c_mktsegment")
    )


_SQL_CUST_ORDER = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def _q_region_nation_rollup(spark, sf):
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    c = _t(spark, sf, "customer")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_customers"),
             F.round(F.avg("c_acctbal"), 6).alias("avg_acctbal"))
        .orderBy("r_name")
    )


_SQL_REGION_NATION = """
SELECT r_name, COUNT(*) AS n_customers,
       ROUND(AVG(c_acctbal), 6) AS avg_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


def _q_semi_join(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers_with_orders"))
        .orderBy("c_nationkey")
    )


_SQL_SEMI = """
SELECT c_nationkey, COUNT(*) AS n_customers_with_orders
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_nationkey ORDER BY c_nationkey
"""


def _q_anti_join(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


_SQL_ANTI = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
ORDER BY c_custkey
"""


def _q_window_rank(spark, sf):
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey",
                F.round("o_totalprice", 2).alias("totalprice"), "rnk")
    )


_SQL_WINDOW_RANK = """
SELECT o_custkey, o_orderkey, ROUND(o_totalprice,2) AS totalprice, rnk
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      FROM orders) WHERE rnk <= 3
"""


def _q_window_prefix_sum(spark, sf):
    e = _t(spark, sf, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    return e.select(
        "user_id", "event_id",
        F.round(F.coalesce(F.sum(F.col("value").cast("decimal(18,2)"))
                           .over(w).cast("double"), F.lit(0.0)), 2)
         .alias("prior_sum"),
    )


_SQL_PREFIX_SUM = """
SELECT user_id, event_id,
       ROUND(COALESCE(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS DOUBLE), 0.0), 2)
       AS prior_sum
FROM events
"""


def _q_distinct_agg(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"),
             F.count("*").alias("n_events"))
        .orderBy("event_type")
    )


_SQL_DISTINCT = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY event_type ORDER BY event_type
"""


def _q_set_intersect(spark, sf):
    e = _t(spark, sf, "events")
    a = e.where(F.col("event_type") == "purchase").select("user_id")
    b = e.where(F.col("event_type") == "signup").select("user_id")
    return a.intersect(b).orderBy("user_id")


_SQL_INTERSECT = """
SELECT user_id FROM events WHERE event_type = 'purchase'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'signup'
ORDER BY user_id
"""


def _q_set_except(spark, sf):
    e = _t(spark, sf, "events")
    a = e.where(F.col("event_type") == "purchase").select("user_id")
    b = e.where(F.col("event_type") == "error").select("user_id")
    return a.exceptAll(b).groupBy("user_id").agg(
        F.count("*").alias("n")).orderBy("user_id")


_SQL_EXCEPT = """
SELECT user_id, COUNT(*) AS n FROM (
  SELECT user_id FROM events WHERE event_type = 'purchase'
  EXCEPT ALL
  SELECT user_id FROM events WHERE event_type = 'error'
) GROUP BY user_id ORDER BY user_id
"""


def _q_case_bucket(spark, sf):
    e = _t(spark, sf, "events")
    norm = F.col("value") / 200.0
    return (
        e.withColumn("bucket", X.conf_bucket_col(norm))
        .groupBy("bucket").agg(F.count("*").alias("n"))
        .orderBy("bucket")
    )


_SQL_CASE_BUCKET = """
SELECT CASE WHEN value/200.0 >= 0.9 THEN 'very_high'
            WHEN value/200.0 >= 0.8 THEN 'high'
            WHEN value/200.0 >= 0.6 THEN 'medium'
            WHEN value/200.0 >= 0.4 THEN 'low'
            ELSE 'very_low' END AS bucket,
       COUNT(*) AS n
FROM events GROUP BY 1 ORDER BY bucket
"""


def _q_json_extract(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("event_type")
        .agg(F.round(F.avg("k"), 6).alias("avg_k"),
             F.max("k").alias("max_k"))
        .orderBy("event_type")
    )


_SQL_JSON = """
SELECT event_type,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""


def _q_argmax_event(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("top_event_type"),
                F.round("value", 2).alias("top_value"))
        .orderBy("user_id")
    )


_SQL_ARGMAX = """
SELECT user_id, event_type AS top_event_type, ROUND(value,2) AS top_value
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY value DESC, event_id ASC) rn
      FROM events) WHERE rn = 1 ORDER BY user_id
"""


def _q_sessionize(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; route through timestamp (session tz = UTC) to
    # get the same naive epoch DuckDB computes.
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    return (
        e.withColumn("gap_s", gap)
        .where(F.col("gap_s").isNotNull())
        .groupBy("user_id")
        .agg(F.round(F.avg("gap_s"), 6).alias("avg_gap_s"),
             F.max("gap_s").alias("max_gap_s"))
        .orderBy("user_id")
    )


_SQL_SESSIONIZE = """
SELECT user_id, ROUND(AVG(gap_s), 6) AS avg_gap_s, MAX(gap_s) AS max_gap_s
FROM (SELECT user_id,
             CAST(FLOOR(EPOCH(ts)) AS BIGINT)
             - LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
      FROM events)
WHERE gap_s IS NOT NULL GROUP BY user_id ORDER BY user_id
"""


def _q_rollup(spark, sf):
    d = _t(spark, sf, "documents")
    return (
        d.rollup("lang", "source")
        .agg(F.count("*").alias("n"),
             F.sum("n_chars").alias("sum_chars"))
        .orderBy("lang", "source")
    )


_SQL_ROLLUP = """
SELECT lang, source, COUNT(*) AS n,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY ROLLUP (lang, source) ORDER BY lang, source
"""


def _q_pivot_events(spark, sf):
    """§2.5 pivot: per-user event-type matrix (explicit value list so the
    plan is a single pass — Spark's two-pass value discovery is the
    scale trap pivot users hit)."""
    e = _t(spark, sf, "events")
    return (e.groupBy("user_id")
            .pivot("event_type", ["view", "click", "purchase"])
            .agg(F.round(F.sum("value"), 2))
            .select("user_id",
                    F.col("view").alias("view_value"),
                    F.col("click").alias("click_value"),
                    F.col("purchase").alias("purchase_value"))
            .orderBy("user_id"))


_SQL_PIVOT = """
SELECT user_id,
       ROUND(SUM(CASE WHEN event_type='view' THEN value END), 2)
         AS view_value,
       ROUND(SUM(CASE WHEN event_type='click' THEN value END), 2)
         AS click_value,
       ROUND(SUM(CASE WHEN event_type='purchase' THEN value END), 2)
         AS purchase_value
FROM events GROUP BY user_id ORDER BY user_id
"""


def _q_grouping_sets(spark, sf):
    """§2.5 grouping sets: (lang), (source), and grand total in ONE scan
    + one shuffle — the hand-rolled alternative is three scans unioned."""
    d = _t(spark, sf, "documents")
    return spark.sql(
        """
        SELECT lang, source, COUNT(*) AS n,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM {d}
        GROUP BY GROUPING SETS ((lang), (source), ())
        ORDER BY lang, source
        """, d=d)


_SQL_GROUPING_SETS = """
SELECT lang, source, COUNT(*) AS n,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY GROUPING SETS ((lang), (source), ())
ORDER BY lang, source
"""


def _q_corpus_stats(spark, sf):
    d = _t(spark, sf, "documents")
    return (
        d.groupBy("lang")
        .agg(F.count("*").alias("n_docs"),
             F.round(F.avg("n_chars"), 6).alias("avg_chars"),
             F.min("n_chars").alias("min_chars"),
             F.max("n_chars").alias("max_chars"))
        .orderBy("lang")
    )


_SQL_CORPUS_STATS = """
SELECT lang, COUNT(*) AS n_docs, ROUND(AVG(n_chars), 6) AS avg_chars,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM documents GROUP BY lang ORDER BY lang
"""


def _q_history_topn(spark, sf):
    d = _t(spark, sf, "documents")
    return (d.orderBy(F.desc("doc_id")).limit(20)
            .select("doc_id", "lang", "n_chars"))


_SQL_HISTORY = """
SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id DESC LIMIT 20
"""


def _q_pattern_find(spark, sf):
    d = _t(spark, sf, "documents")
    return (
        d.where(F.col("text").rlike("spark\\s+\\w+\\s+join"))
        .groupBy("lang").agg(F.count("*").alias("n"))
        .orderBy("lang")
    )


_SQL_PATTERN_FIND = r"""
SELECT lang, COUNT(*) AS n FROM documents
WHERE regexp_matches(text, 'spark\s+\w+\s+join')
GROUP BY lang ORDER BY lang
"""


def _q_regex_count(spark, sf):
    d = _t(spark, sf, "documents")
    return (
        d.select(
            "doc_id",
            F.size(F.regexp_extract_all("text", F.lit("(join)"), 1))
             .cast("long").alias("n_join"),
            F.size(F.regexp_extract_all("text", F.lit("(merge)"), 1))
             .cast("long").alias("n_merge"))
        .orderBy("doc_id")
    )


_SQL_REGEX_COUNT = """
SELECT doc_id,
       len(regexp_extract_all(text, '(join)', 1)) AS n_join,
       len(regexp_extract_all(text, '(merge)', 1)) AS n_merge
FROM documents ORDER BY doc_id
"""


def _q_first_match(spark, sf):
    d = _t(spark, sf, "documents")
    first = F.coalesce(
        F.nullif(F.regexp_extract("text", "(window)", 1), F.lit("")),
        F.nullif(F.regexp_extract("text", "(stream)", 1), F.lit("")),
        F.nullif(F.regexp_extract("text", "(vector)", 1), F.lit("")),
        F.lit("none"),
    )
    return (d.withColumn("first_kw", first)
            .groupBy("first_kw").agg(F.count("*").alias("n"))
            .orderBy("first_kw"))


_SQL_FIRST_MATCH = """
SELECT COALESCE(NULLIF(regexp_extract(text, '(window)', 1), ''),
                NULLIF(regexp_extract(text, '(stream)', 1), ''),
                NULLIF(regexp_extract(text, '(vector)', 1), ''),
                'none') AS first_kw,
       COUNT(*) AS n
FROM documents GROUP BY 1 ORDER BY first_kw
"""


def _q_hp_extract(spark, sf):
    d = _t(spark, sf, "documents").select(
        "doc_id", F.expr(_HP_PLANT).alias("text"))
    return d.select("doc_id", X.hp_col(F.col("text")).alias("hp")) \
        .orderBy("doc_id")


def _sql_hp_extract():
    # Same cascade, same planted text, RE2 side. Only the first pattern can
    # match the planted token; the cascade is still exercised end-to-end.
    pats = ["(?i)" + p for p in C.HP_PATTERNS]
    cands = ", ".join(
        f"CASE WHEN TRY_CAST(NULLIF(regexp_extract(t.text, '{p}', 1), '') AS INT) "
        f"BETWEEN {C.HP_MIN} AND {C.HP_MAX} "
        f"THEN TRY_CAST(regexp_extract(t.text, '{p}', 1) AS INT) END"
        for p in pats
    )
    return (f"SELECT doc_id, COALESCE({cands}) AS hp "
            f"FROM (SELECT doc_id, {_HP_PLANT} AS text FROM documents) t "
            f"ORDER BY doc_id")


def _q_cost_extract(spark, sf):
    d = _t(spark, sf, "documents").select(
        "doc_id", F.expr(_COST_PLANT).alias("text"))
    return d.select(
        "doc_id",
        F.round(X.cost_col(F.col("text")), 2).alias("cost")).orderBy("doc_id")


def _sql_cost_extract():
    pats = ["(?i)" + p.replace("'", "''") for p in C.COST_PATTERNS]
    arrays = " || ".join(
        f"regexp_extract_all(t.text, '{p}', 1)" for p in pats)
    return f"""
SELECT doc_id, ROUND(m, 2) AS cost FROM (
  SELECT doc_id,
         list_max(list_filter(
             [TRY_CAST(replace(replace(x, ',', ''), ' ', '') AS DOUBLE)
              for x in ({arrays})],
             v -> v IS NOT NULL AND v > {C.COST_MIN_CANDIDATE})) AS m
  FROM (SELECT doc_id, {_COST_PLANT} AS text FROM documents) t
) ORDER BY doc_id
"""


def _q_token_stats(spark, sf):
    d = TQ.with_token_stats(_docs_sorted(spark, sf))
    return d.select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
                    "stopword_ratio", "mean_word_len")


_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in C.STOPWORDS) + "]"

_SQL_TOKEN_STATS = f"""
SELECT doc_id,
       len(toks) AS n_tokens,
       ROUND(len(list_filter(toks, w -> list_contains({_STOP_SQL}, lower(w))))
             / greatest(len(toks), 1), 6) AS stopword_ratio,
       ROUND(CAST(coalesce(list_sum(list_transform(toks, w -> length(w))), 0)
                  AS DOUBLE)
             / greatest(len(toks), 1), 6) AS mean_word_len
FROM (SELECT doc_id, {_DUCK_TOKS} AS toks
      FROM documents) ORDER BY doc_id
"""


def _q_diversity_stats(spark, sf):
    d = TQ.with_diversity_stats(_docs_sorted(spark, sf))
    return d.select("doc_id", "n_types", "ttr",
                    "token_entropy", "char_entropy")


def _duck_entropy_terms(st: str, n: str) -> str:
    """DuckDB twin of textquality._entropy_sql's fold: sum over runs of
    -p*log2(p), run j's length derived from consecutive start positions.
    Same ascending-run summation order as the Spark fold (both engines
    sort strings by binary UTF-8), terms accumulate as 0.0 - p*log2(p)
    so a single-run array sums to +0.0, never -0.0."""
    run = f"((CASE WHEN j < len({st}) THEN {st}[j + 1] ELSE {n} + 1 END) - {st}[j])"
    return (f"CASE WHEN {n} = 0 THEN 0.0 ELSE coalesce(list_sum("
            f"list_transform(generate_series(1, len({st})), j -> "
            f"0.0 - {run} / CAST({n} AS DOUBLE) "
            f"* log2({run} / CAST({n} AS DOUBLE)))), 0.0) END")


_SQL_DIVERSITY = f"""
SELECT doc_id,
       CAST(nt AS BIGINT) AS n_types,
       ROUND(nt / greatest(n, 1), 6) AS ttr,
       ROUND({_duck_entropy_terms('tst', 'n')}, 6) AS token_entropy,
       ROUND({_duck_entropy_terms('cst', 'nc')}, 6) AS char_entropy
FROM (
  SELECT doc_id, n, nt, nc,
         list_filter(generate_series(1, n), i ->
           CASE WHEN i = 1 THEN true ELSE ts[i] != ts[i - 1] END) AS tst,
         list_filter(generate_series(1, nc), i ->
           CASE WHEN i = 1 THEN true ELSE cs[i] != cs[i - 1] END) AS cst
  FROM (
    SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nt,
           list_sort(toks) AS ts, len(chars) AS nc, list_sort(chars) AS cs
    FROM (SELECT doc_id, {{DUCK_TOKS}} AS toks,
                 regexp_extract_all(text, '{{CHAR_PATTERN}}', 0) AS chars
          FROM documents)))
ORDER BY doc_id
""".replace("{DUCK_TOKS}", _DUCK_TOKS).replace("{CHAR_PATTERN}",
                                               TQ.CHAR_PATTERN)


def _q_quality_score(spark, sf):
    d = TQ.with_quality_score(_docs_sorted(spark, sf))
    return d.select("doc_id", "quality_score")


_SQL_QUALITY = f"""
SELECT doc_id,
       ROUND((CASE WHEN n < 10 THEN n/10.0 WHEN n > 1000 THEN 0.5
                   ELSE 1.0 END) * 0.6
             + (CASE WHEN sr BETWEEN 0.05 AND 0.6 THEN 1.0
                     ELSE 0.5 END) * 0.4, 6) AS quality_score
FROM (SELECT doc_id, len(toks) AS n,
             ROUND(len(list_filter(toks,
                 w -> list_contains({_STOP_SQL}, lower(w))))
                   / greatest(len(toks), 1), 6) AS sr
      FROM (SELECT doc_id, {_DUCK_TOKS} AS toks
            FROM documents))
ORDER BY doc_id
"""


def _q_lang_guess(spark, sf):
    d = TQ.with_lang_guess(_t(spark, sf, "documents"))
    return (d.groupBy("lang_guess").agg(F.count("*").alias("n"))
            .orderBy("lang_guess"))


def _sql_lang_guess():
    hit_exprs = {
        name: ("len(list_filter(toks, w -> list_contains(["
               + ", ".join(f"'{m}'" for m in markers)
               + "], lower(w))))")
        for name, markers in TQ.LANG_MARKERS.items()
    }
    names = list(TQ.LANG_MARKERS)
    # Mirror the strictly-greater argmax with ties to earlier entries.
    best = "'unknown'"
    best_hits = "0"
    for name in names:
        h = f"h_{name}"
        best = f"CASE WHEN {h} > {best_hits} THEN '{name}' ELSE {best} END"
        best_hits = f"CASE WHEN h_{name} > {best_hits} THEN h_{name} ELSE {best_hits} END"
    hits_select = ", ".join(f"{e} AS h_{n}" for n, e in hit_exprs.items())
    return f"""
SELECT lang_guess, COUNT(*) AS n FROM (
  SELECT {best} AS lang_guess FROM (
    SELECT {hits_select}
    FROM (SELECT {_DUCK_TOKS} AS toks FROM documents)))
GROUP BY lang_guess ORDER BY lang_guess
"""


def _q_fingerprint(spark, sf):
    d = TQ.with_fingerprint(_docs_sorted(spark, sf))
    return d.select("doc_id", "content_hash", "min_shingle")


_SQL_FINGERPRINT = """
SELECT doc_id, md5(text) AS content_hash,
       list_min([md5(substr(text, i, 20))
                 for i in range(1, greatest(length(text) - 19, 1) + 1)])
       AS min_shingle
FROM documents ORDER BY doc_id
"""


# -- dedup family (near-dups planted by unioning a mutated copy) -----------

def _dup_docs(spark, sf):
    """documents UNION a near-dup copy (first word dropped, id + 1000000).

    fan_out (round 6) runs BEFORE the union is built: a single-row-group
    scan arrives in 1 partition, which would serialize both the mutation
    and the expensive downstream sketch pipeline (tokenize -> shingle ->
    md5 -> sort) on a 32-core box. Repartitioning the base once moves
    ~6 MB of text and parallelizes both union legs; the mutation's
    split() is evaluated once per row via the single-evaluation
    transform idiom (dedup._word_shingles_sql discipline — the old
    direct form re-split the text for the size() argument). No-op on
    real multi-split inputs."""
    d = fan_out(_t(spark, sf, "documents").select("doc_id", "text"))
    mut = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr(f"element_at(transform(array(split({ws_trim_sql('text')}, "
               "'\\\\s+')), w -> array_join(slice(w, 2, size(w)), ' ')), 1)"
               ).alias("text"))
    return d.unionByName(mut)


_DUP_DOCS_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id,
       coalesce(array_to_string(
           list_slice(str_split_regex(regexp_replace(text, '^[ \\x{0009}-\\x{000D}\\x{3000}]+|[ \\x{0009}-\\x{000D}\\x{3000}]+$', '', 'g'), '[ \\x{0009}-\\x{000D}]+'), 2,
                      len(str_split_regex(regexp_replace(text, '^[ \\x{0009}-\\x{000D}\\x{3000}]+|[ \\x{0009}-\\x{000D}\\x{3000}]+$', '', 'g'), '[ \\x{0009}-\\x{000D}]+'))), ' '), '')
         AS text
FROM documents
"""


def _q_dedup_exact(spark, sf):
    base = _t(spark, sf, "documents").select("doc_id", "text")
    dup = base.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    return (D.exact_duplicates(base.unionByName(dup))
            .orderBy("content_hash"))


_SQL_DEDUP_EXACT = """
SELECT md5(text) AS content_hash, COUNT(*) AS n_dups,
       MIN(doc_id) AS keep_doc_id
FROM (SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id + 1000000, text FROM documents)
GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY content_hash
"""


_SHINGLE_SQL = (
    # `if len(toks) > 0`: zero-token docs have ZERO shingles, mirroring
    # dedup._word_shingles_sql's CASE guard.
    "[array_to_string(list_slice(toks, i, i + 2), ' ') "
    "for i in range(1, greatest(len(toks) - 2, 1) + 1) if len(toks) > 0]"
)


def _q_minhash_sketch(spark, sf):
    d = D.with_minhash_sketch(_docs_sorted(spark, sf))
    # NULL (not '') sketch string for zero-token docs: DuckDB's
    # array_to_string on an empty list is NULL, so mirror that here.
    return d.select(
        "doc_id", "minhash_bucket",
        F.when(F.size("minhash_sketch") > 0,
               F.array_join("minhash_sketch", "|")).alias("sketch")
    )


_SQL_MINHASH = f"""
SELECT doc_id, sk[1] AS minhash_bucket, array_to_string(sk, '|') AS sketch
FROM (
  SELECT doc_id,
         list_slice(list_sort(list_distinct(
             list_transform({_SHINGLE_SQL}, s -> md5(s)))), 1, 8) AS sk
  FROM (SELECT doc_id, {_DUCK_TOKS} AS toks
        FROM documents))
ORDER BY doc_id
"""


def _pair_sorted(pairs, *cols):
    """Materialize a (tiny) pair table in one hash exchange before the
    global sort (round 6): range partitioning SAMPLES the sort's child
    by executing it in full (guide §7.2), so sorting the sweep's output
    directly re-executes the whole O(n^2) bucket sweep a second time —
    measured 25% of near_dup_pairs at sf1.0. With the extra exchange
    the sampling pass reads the few-MB shuffled pairs instead. Same
    rows, same final order."""
    return pairs.repartition(*cols).orderBy(*cols)


def _q_near_dup_pairs(spark, sf):
    return _pair_sorted(D.near_dup_pairs(_dup_docs(spark, sf),
                                         jaccard_min=0.5),
                        "doc_a", "doc_b")


_SQL_NEAR_DUP = f"""
WITH base AS ({_DUP_DOCS_SQL}),
sk AS (
  SELECT doc_id,
         list_slice(list_sort(list_distinct(
             list_transform({_SHINGLE_SQL}, s -> md5(s)))), 1, 8) AS sketch
  FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM base))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(len(list_intersect(a.sketch, b.sketch))
             / len(list_distinct(a.sketch || b.sketch)), 6) AS jaccard
FROM sk a JOIN sk b ON a.sketch[1] = b.sketch[1] AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.sketch, b.sketch))
      / len(list_distinct(a.sketch || b.sketch)) >= 0.5
ORDER BY doc_a, doc_b
"""


def _q_banded_near_dup(spark, sf):
    return _pair_sorted(D.banded_near_dup_pairs(_dup_docs(spark, sf),
                                                jaccard_min=0.5),
                        "doc_a", "doc_b")


# k-permutation MinHash mirror of dedup.with_minhash_signature: one md5
# per shingle (28-bit prefix), k LCG permutations mod the Mersenne prime.
# The constants come from the SAME Python derivation both engines embed
# as integer literals (dedup.minhash_constants), so any k is parity-safe.
_HS_SQL = "list_transform(sh, s -> ('0x' || substr(md5(s), 1, 7))::BIGINT)"


def _sig_sql(k: int) -> str:
    A, B = D.minhash_constants(k)
    a_sql = "[" + ", ".join(str(a) for a in A) + "]"
    b_sql = "[" + ", ".join(str(b) for b in B) + "]"
    return (f"[list_min(list_transform(hs, h -> "
            f"({a_sql}[i + 1] * h + {b_sql}[i + 1]) "
            f"% {D.MINHASH_P})) for i in range(0, {k})]")


_SIG_SQL = _sig_sql(8)


def _banded_near_dup_sql(bands: int, rows: int,
                         jaccard_min: float = 0.5) -> str:
    """DuckDB mirror of dedup.banded_near_dup_pairs at any (bands, rows);
    signature length = bands*rows, band b keys rows [b*rows+1, b*rows+rows]."""
    return f"""
WITH base AS ({_DUP_DOCS_SQL}),
sk AS (
  SELECT doc_id,
         list_slice(list_sort(list_distinct(
             list_transform(sh, s -> md5(s)))), 1, 8) AS sketch,
         {_sig_sql(bands * rows)} AS sig
  FROM (SELECT doc_id, sh, {_HS_SQL} AS hs
        FROM (SELECT doc_id, {_SHINGLE_SQL} AS sh
              FROM (SELECT doc_id,
                           {_DUCK_TOKS} AS toks
                    FROM base))
        WHERE len(sh) > 0)),
banded AS (
  SELECT doc_id, sketch, t.b AS band,
         md5(array_to_string(
             list_slice(sig, t.b*{rows} + 1, t.b*{rows} + {rows}), '|'))
         AS band_hash
  FROM sk, range(0, {bands}) t(b)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         any_value(a.sketch) AS sk_a, any_value(b.sketch) AS sk_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       ROUND(len(list_intersect(sk_a, sk_b))
             / len(list_distinct(sk_a || sk_b)), 6) AS jaccard
FROM pairs
WHERE len(list_intersect(sk_a, sk_b))
      / len(list_distinct(sk_a || sk_b)) >= {jaccard_min}
ORDER BY doc_a, doc_b
"""


_SQL_BANDED_NEAR_DUP = _banded_near_dup_sql(4, 2)


def _q_banded_near_dup_k64(spark, sf):
    """Production-resolution banding: 64 permutations in 16 bands x 4
    rows — the k the round-4 verdict asked for (k=8's sketch-jaccard
    quantizes to 1/8 steps; 16x4's S-curve is usably steep at j~0.5)."""
    return _pair_sorted(D.banded_near_dup_pairs(_dup_docs(spark, sf),
                                                jaccard_min=0.5,
                                                bands=16, rows=4),
                        "doc_a", "doc_b")


_SQL_BANDED_NEAR_DUP_K64 = _banded_near_dup_sql(16, 4)


def _q_dup_clusters(spark, sf):
    """Transitive duplicate clusters over banded-LSH near-dup pairs
    (connected components via min-label propagation; the oracle computes
    the same closure with a recursive CTE)."""
    pairs = D.banded_near_dup_pairs(_dup_docs(spark, sf), jaccard_min=0.5)
    return D.duplicate_clusters(pairs).orderBy("doc_id")


# Reuse the banded-pair CTE body (everything up to the final SELECT).
_BANDED_PAIRS_CTE = f"""
base AS ({_DUP_DOCS_SQL}),
sk AS (
  SELECT doc_id,
         list_slice(list_sort(list_distinct(
             list_transform(sh, s -> md5(s)))), 1, 8) AS sketch,
         {_SIG_SQL} AS sig
  FROM (SELECT doc_id, sh, {_HS_SQL} AS hs
        FROM (SELECT doc_id, {_SHINGLE_SQL} AS sh
              FROM (SELECT doc_id,
                           {_DUCK_TOKS} AS toks
                    FROM base))
        WHERE len(sh) > 0)),
banded AS (
  SELECT doc_id, sketch, t.b AS band,
         md5(array_to_string(list_slice(sig, t.b*2 + 1, t.b*2 + 2), '|'))
         AS band_hash
  FROM sk, range(0, 4) t(b)),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         any_value(a.sketch) AS sk_a, any_value(b.sketch) AS sk_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT doc_a, doc_b FROM cand
  WHERE len(list_intersect(sk_a, sk_b))
        / len(list_distinct(sk_a || sk_b)) >= 0.5)
"""

_SQL_DUP_CLUSTERS = f"""
WITH RECURSIVE
{_BANDED_PAIRS_CTE},
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
reach AS (
  SELECT DISTINCT u AS doc_id, u AS r FROM edges
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.doc_id = e.v)
SELECT doc_id, MIN(r) AS cluster FROM reach GROUP BY doc_id ORDER BY doc_id
"""


def _q_dup_clusters_star(spark, sf):
    """Same transitive closure as dup_clusters, computed by the
    ALTERNATING large-star/small-star algorithm (dedup.py
    duplicate_clusters_star — O(log^2 n) rounds vs label propagation's
    diameter rounds); graded against the same recursive-CTE oracle."""
    pairs = D.banded_near_dup_pairs(_dup_docs(spark, sf), jaccard_min=0.5)
    return D.duplicate_clusters_star(pairs).orderBy("doc_id")


def _q_length_quantiles(spark, sf):
    """Exact interpolated quantiles of document length per language —
    the corpus-profiling agg a training-data pipeline runs first."""
    d = _t(spark, sf, "documents")
    return (d.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.round(F.expr("percentile(n_chars, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(n_chars, 0.75)"), 6).alias("p75"),
    ).orderBy("lang"))


_SQL_LENGTH_QUANTILES = """
SELECT lang, COUNT(*) AS n,
       ROUND(quantile_cont(n_chars, 0.25), 6) AS p25,
       ROUND(quantile_cont(n_chars, 0.5), 6) AS p50,
       ROUND(quantile_cont(n_chars, 0.75), 6) AS p75
FROM documents GROUP BY lang ORDER BY lang
"""


def _q_simhash(spark, sf):
    d = D.with_simhash(_docs_sorted(spark, sf))
    return d.select("doc_id", "simhash")


def _sql_simhash():
    ones = " + ".join(
        f"(CASE WHEN 2 * list_sum(list_transform(hs, h -> (h >> {b}) & 1)) "
        f">= n THEN {1 << b} ELSE 0 END)"
        for b in range(D.SIMHASH_BITS))
    return f"""
SELECT doc_id,
       CAST(CASE WHEN n = 0 THEN 0 ELSE {ones} END AS BIGINT) AS simhash
FROM (SELECT doc_id,
             list_transform(toks,
                 w -> ('0x' || substr(md5(w), 1, 4))::BIGINT) AS hs,
             len(toks) AS n
      FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents))
ORDER BY doc_id
"""


def _q_ngram_jaccard(spark, sf):
    d = _t(spark, sf, "documents").select("doc_id", "text")
    pairs = D.ngram_jaccard_pairs(d, sample_ids=[0, 1, 2])
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("jaccard"), F.asc("doc_id"))
    return (pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
            .where(F.col("rnk") <= 5)
            .select("probe_id", "doc_id", "jaccard", "rnk"))


_SQL_NGRAM_JACCARD = f"""
WITH sh AS (
  SELECT doc_id, list_distinct({_SHINGLE_SQL}) AS shingles
  FROM (SELECT doc_id, {_DUCK_TOKS} AS toks
        FROM documents)),
pairs AS (
  SELECT p.doc_id AS probe_id, d.doc_id AS doc_id,
         ROUND(len(list_intersect(d.shingles, p.shingles))
               / len(list_distinct(d.shingles || p.shingles)), 6) AS jaccard
  FROM sh d, sh p
  WHERE p.doc_id IN (0, 1, 2) AND d.doc_id != p.doc_id)
SELECT probe_id, doc_id, jaccard, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                               ORDER BY jaccard DESC, doc_id ASC) AS rnk
  FROM pairs) WHERE rnk <= 5
"""


# -- embedding similarity ---------------------------------------------------

def _cos_sql(a: str, b: str) -> str:
    # zero-norm guard mirrors similarity._cosine_pre: cos = 0.0 when either
    # norm is 0 (raw 0/0 is NaN and the two engines ORDER NaN
    # differently, so unguarded parity would break on zero vectors)
    denom = (f"(sqrt(list_dot_product({a}, {a})) * "
             f"sqrt(list_dot_product({b}, {b})))")
    return (f"CASE WHEN {denom} = 0 THEN 0.0 "
            f"ELSE list_dot_product({a}, {b}) / {denom} END")


def _q_embed_topk(spark, sf):
    return S.brute_force_topk(_t(spark, sf, "embeddings"),
                              probe_ids=[0, 1, 2], k=5)


_SQL_EMBED_TOPK = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
scored AS (
  SELECT p.vec_id AS probe_id, d.vec_id AS vec_id,
         ROUND({_cos_sql('d.emb', 'p.emb')}, 6) AS cos_sim
  FROM e d, e p WHERE p.vec_id IN (0,1,2) AND d.vec_id != p.vec_id)
SELECT probe_id, vec_id, cos_sim, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                               ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored) WHERE rank <= 5
"""


def _q_embed_lsh_topk(spark, sf):
    return S.lsh_topk(_t(spark, sf, "embeddings"), probe_ids=[0, 1, 2], k=5)


def _sql_embed_lsh_topk():
    bands, rows = S.LSH_TOPK_BANDS, S.LSH_TOPK_ROWS

    def bucket(band):
        return " + ".join(
            f"(CASE WHEN emb[{band * rows + i + 1}] >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i in range(rows))

    bucket_cols = ",\n           ".join(
        f"({bucket(band)}) AS b{band}" for band in range(bands))
    cand_union = "\n  UNION ALL\n".join(
        f"  SELECT p.vec_id AS probe_id, d.vec_id AS vec_id, "
        f"d.emb AS emb, p.emb AS probe_emb\n"
        f"  FROM e d JOIN e p ON d.b{band} = p.b{band}\n"
        f"  WHERE p.vec_id IN (0,1,2) AND d.vec_id != p.vec_id"
        for band in range(bands))
    cos = ("list_dot_product(emb, probe_emb) / "
           "(sqrt(list_dot_product(emb, emb)) * "
           "sqrt(list_dot_product(probe_emb, probe_emb)))")
    return f"""
WITH e AS (SELECT vec_id, emb,
           {bucket_cols}
           FROM (SELECT vec_id, embedding::DOUBLE[] AS emb
                 FROM embeddings)),
cand AS (
  SELECT DISTINCT probe_id, vec_id, emb, probe_emb FROM (
{cand_union}
  )),
scored AS (
  SELECT probe_id, vec_id, ROUND({cos}, 6) AS cos_sim FROM cand)
SELECT probe_id, vec_id, cos_sim, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                               ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored) WHERE rank <= 5
"""


def _q_embed_near_dups(spark, sf):
    emb = _t(spark, sf, "embeddings")
    # Plant guaranteed near-dups: a scaled copy has cosine exactly 1.
    dup = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda v: v * F.lit(2.0).cast("float"))
         .alias("embedding"),
        F.col("label"))
    both = emb.unionByName(dup)
    return _pair_sorted(S.embedding_near_dups(both, cos_min=0.999),
                        "id_a", "id_b")


def _sql_embed_near_dups():
    bands, rows = S.EMB_LSH_BANDS, S.EMB_LSH_ROWS

    def bucket(band):
        return " + ".join(
            f"(CASE WHEN emb[{band * rows + i + 1}] >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i in range(rows))

    bucket_cols = ",\n           ".join(
        f"({bucket(band)}) AS b{band}" for band in range(bands))
    cand_union = "\n  UNION ALL\n".join(
        f"  SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        f"a.emb AS emb_a, b.emb AS emb_b\n"
        f"  FROM e a JOIN e b ON a.b{band} = b.b{band} "
        f"AND a.vec_id < b.vec_id"
        for band in range(bands))
    cos = ("list_dot_product(emb_a, emb_b) / "
           "(sqrt(list_dot_product(emb_a, emb_a)) * "
           "sqrt(list_dot_product(emb_b, emb_b)))")
    return f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(embedding,
             v -> (v::FLOAT * 2.0::FLOAT)::FLOAT)::DOUBLE[] AS emb
  FROM embeddings),
e AS (SELECT vec_id, emb,
           {bucket_cols}
      FROM base),
cand AS (
  SELECT DISTINCT id_a, id_b, emb_a, emb_b FROM (
{cand_union}
  ))
SELECT id_a, id_b, ROUND({cos}, 6) AS cos_sim
FROM cand
WHERE ROUND({cos}, 6) >= 0.999
ORDER BY id_a, id_b
"""


def _q_asof_join(spark, sf):
    """As-of join: each purchase picks up the most recent prior view's
    value for the same user (union + last-ignorenulls window; the oracle
    uses DuckDB's native ASOF JOIN)."""
    from document_ai_spark.operators.asof import asof_join

    e = _t(spark, sf, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").cast("timestamp").cast("long").alias("ts_s"),
        "event_id", F.round("value", 2).alias("purchase_value"))
    views = (e.where(F.col("event_type") == "view")
             .select("user_id",
                     F.col("ts").cast("timestamp").cast("long").alias("ts_s"),
                     "value")
             .groupBy("user_id", "ts_s")
             .agg(F.round(F.max("value"), 2).alias("last_view_value")))
    return (asof_join(purchases, views, key="user_id", ts="ts_s",
                      right_cols=["last_view_value"])
            .orderBy("user_id", "ts_s", "event_id"))


_SQL_ASOF = """
WITH p AS (SELECT user_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_s,
                  event_id, ROUND(value, 2) AS purchase_value
           FROM events WHERE event_type = 'purchase'),
v AS (SELECT user_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_s,
             ROUND(MAX(value), 2) AS last_view_value
      FROM events WHERE event_type = 'view' GROUP BY 1, 2)
SELECT p.user_id, p.ts_s, p.event_id, p.purchase_value, v.last_view_value
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts_s >= v.ts_s
ORDER BY p.user_id, p.ts_s, p.event_id
"""


def _q_range_join(spark, sf):
    """Range join via chunked equi-join (operators/rangejoin.py): view
    events landing inside a +/-10-minute window around each purchase by
    the same user. The oracle uses the plain inequality join — identical
    output, cartesian plan; ours stays a hash join."""
    from document_ai_spark.operators.rangejoin import range_join

    e = _t(spark, sf, "events")
    epoch = F.col("ts").cast("timestamp").cast("long")
    views = e.where(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"),
        epoch.alias("view_ts"))
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"),
        (epoch - 600).alias("win_start"), (epoch + 600).alias("win_end"))
    out = range_join(views, purchases, key="user_id", left_ts="view_ts",
                     right_start="win_start", right_end="win_end",
                     chunk=600)
    return (out.select("user_id", "view_id", "purchase_id")
            .orderBy("user_id", "view_id", "purchase_id"))


_SQL_RANGE_JOIN = """
WITH v AS (SELECT user_id, event_id AS view_id,
                  CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS view_ts
           FROM events WHERE event_type = 'view'),
p AS (SELECT user_id, event_id AS purchase_id,
             CAST(FLOOR(EPOCH(ts)) AS BIGINT) - 600 AS win_start,
             CAST(FLOOR(EPOCH(ts)) AS BIGINT) + 600 AS win_end
      FROM events WHERE event_type = 'purchase')
SELECT v.user_id AS user_id, v.view_id, p.purchase_id
FROM v JOIN p ON v.user_id = p.user_id
             AND v.view_ts BETWEEN p.win_start AND p.win_end
ORDER BY v.user_id, view_id, purchase_id
"""


def _q_time_rollup(spark, sf):
    """Hypertable-style continuous-aggregate query: events rolled up to
    1-hour time buckets per event_type (the materialize-then-union
    pattern's query shape; date_trunc keeps it codegen)."""
    e = _t(spark, sf, "events")
    return (e.groupBy(F.date_trunc("hour", F.col("ts").cast("timestamp"))
                      .alias("bucket"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("total_value"))
            .orderBy("bucket", "event_type"))


_SQL_TIME_ROLLUP = """
SELECT date_trunc('hour', ts) AS bucket, event_type,
       COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
FROM events GROUP BY 1, 2 ORDER BY bucket, event_type
"""


def _q_embed_ivf_topk(spark, sf):
    return S.ivf_topk(_t(spark, sf, "embeddings"), probe_ids=[0, 1, 2], k=5)


def _ivf_codebook_ctes(e_body: str) -> tuple:
    """The seeded-Lloyd codebook as DuckDB CTE text (mirrors
    similarity.kmeans_codebook: first-k init, IVF_ITERS iterations over
    the vec_id%MOD training sample, assign -> elementwise mean rounded
    to 6). ``e_body`` is the SELECT for the input CTE ``e``; returns
    (cte_list, final_codebook_cte_name) so semdedup and ivf_topk share
    one training mirror."""
    cos_assign = _cos_sql("d.emb", "c.cent")
    parts = [
        f"e AS ({e_body})",
        f"train AS (SELECT * FROM e WHERE vec_id % {S.IVF_SAMPLE_MOD} = 0)",
        # k lowest-vec_id init (ORDER BY/LIMIT, not `vec_id < k`
        # arithmetic — mirrors kmeans_codebook's TakeOrdered init,
        # identical on dense 0-based ids, correct on any orderable id)
        f"c0 AS (SELECT vec_id AS centroid_id, emb AS cent FROM e "
        f"ORDER BY vec_id LIMIT {S.IVF_K})",
    ]
    prev = "c0"
    for t in range(1, S.IVF_ITERS + 1):
        parts.append(f"""a{t} AS (
  SELECT vec_id, emb, centroid_id FROM (
    SELECT d.vec_id, d.emb, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id
                              ORDER BY ROUND({cos_assign}, 6) DESC,
                                       c.centroid_id ASC) AS rn
    FROM train d, {prev} c) WHERE rn = 1)""")
        parts.append(f"""m{t} AS (
  SELECT centroid_id, list(av ORDER BY pos) AS new_cent FROM (
    SELECT centroid_id, pos, ROUND(AVG(v), 6) AS av FROM (
      SELECT centroid_id, UNNEST(emb) AS v,
             generate_subscripts(emb, 1) AS pos FROM a{t})
    GROUP BY centroid_id, pos)
  GROUP BY centroid_id)""")
        parts.append(f"""c{t} AS (
  SELECT p.centroid_id, COALESCE(m.new_cent, p.cent) AS cent
  FROM {prev} p LEFT JOIN m{t} m ON p.centroid_id = m.centroid_id)""")
        prev = f"c{t}"
    return parts, prev


def _sql_embed_ivf_topk():
    """Mirrors similarity.kmeans_codebook + ivf_topk: shared codebook
    CTEs (_ivf_codebook_ctes), then full-corpus assignment and
    cluster-restricted probe scoring."""
    cos_assign = _cos_sql("d.emb", "c.cent")
    cos_q = _cos_sql("d.emb", "p.emb")
    parts, prev = _ivf_codebook_ctes(
        "SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings")
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes},
assigned AS (
  SELECT vec_id, emb, centroid_id FROM (
    SELECT d.vec_id, d.emb, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id
                              ORDER BY ROUND({cos_assign}, 6) DESC,
                                       c.centroid_id ASC) AS rn
    FROM e d, {prev} c) WHERE rn = 1),
probes AS (
  SELECT vec_id AS probe_id, emb AS probe_emb, centroid_id FROM (
    SELECT d.vec_id, d.emb, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id
                              ORDER BY ROUND({cos_assign}, 6) DESC,
                                       c.centroid_id ASC) AS rn
    FROM e d, {prev} c WHERE d.vec_id IN (0,1,2))
  WHERE rn <= {S.IVF_NPROBE}),
scored AS (
  SELECT p.probe_id, d.vec_id AS vec_id,
         ROUND(list_dot_product(d.emb, p.probe_emb) /
               (sqrt(list_dot_product(d.emb, d.emb)) *
                sqrt(list_dot_product(p.probe_emb, p.probe_emb))), 6)
         AS cos_sim
  FROM assigned d JOIN probes p ON d.centroid_id = p.centroid_id
  WHERE d.vec_id != p.probe_id)
SELECT probe_id, vec_id, cos_sim, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                               ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored) WHERE rank <= 5
"""


def _q_embed_norms(spark, sf):
    e = _t(spark, sf, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    norm = F.sqrt(F.aggregate(emb, F.lit(0.0), lambda a, v: a + v * v))
    return (e.withColumn("norm", norm)
            .groupBy("label")
            .agg(F.count("*").alias("n"),
                 F.round(F.avg("norm"), 6).alias("avg_norm"))
            .orderBy("label"))


_SQL_EMBED_NORMS = """
SELECT label, COUNT(*) AS n,
       ROUND(AVG(sqrt(list_dot_product(emb, emb))), 6) AS avg_norm
FROM (SELECT label, embedding::DOUBLE[] AS emb FROM embeddings)
GROUP BY label ORDER BY label
"""


# -- additional SURVEY §2 operator families ---------------------------------

def _q_presence_any(spark, sf):
    """A2: presence-any over grouped rows (bool_or semantics)."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy("user_id")
        .agg((F.max((F.col("event_type") == "error").cast("int")) == 1)
             .alias("had_error"),
             F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


_SQL_PRESENCE_ANY = """
SELECT user_id, MAX(CASE WHEN event_type='error' THEN 1 ELSE 0 END) = 1
       AS had_error, COUNT(*) AS n_events
FROM events GROUP BY user_id ORDER BY user_id
"""


def _q_null_skip_mean(spark, sf):
    """A4: null-skipping mean (avg over CASE-nulled values)."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy("event_type")
        .agg(F.round(F.avg(F.when(F.col("value") > 100, F.col("value"))), 6)
             .alias("avg_big_value"),
             F.count(F.when(F.col("value") > 100, 1)).alias("n_big"))
        .orderBy("event_type")
    )


_SQL_NULL_SKIP = """
SELECT event_type,
       ROUND(AVG(CASE WHEN value > 100 THEN value END), 6) AS avg_big_value,
       COUNT(CASE WHEN value > 100 THEN 1 END) AS n_big
FROM events GROUP BY event_type ORDER BY event_type
"""


def _q_value_in_text(spark, sf):
    """P22/P23: value-in-text verification via substring containment."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.col("text").contains(F.col("lang")).alias("lang_in_text"),
        F.col("text").contains(
            F.col("n_chars").cast("string")).alias("nchars_in_text"),
    ).orderBy("doc_id")


_SQL_VALUE_IN_TEXT = """
SELECT doc_id, contains(text, lang) AS lang_in_text,
       contains(text, CAST(n_chars AS VARCHAR)) AS nchars_in_text
FROM documents ORDER BY doc_id
"""


def _q_cost_estimator(spark, sf):
    """P27: LLM cost estimator arithmetic (document_processor.py:287-306)."""
    d = _t(spark, sf, "documents")
    # floor division, as the reference's `len(text)//4`
    # (document_processor.py:291); DuckDB's int cast ROUNDS, so both sides
    # spell out floor().
    tokens_in = F.floor(F.length("text") / F.lit(4)).cast("int") + 1000
    cost = F.round((tokens_in * 0.01 + 500 * 0.03) / 1000.0, 6)
    return (d.select("doc_id", tokens_in.alias("tokens_in"),
                     cost.alias("est_cost_usd"))
            .orderBy("doc_id"))


_SQL_COST_EST = """
SELECT doc_id, CAST(FLOOR(length(text) / 4) AS INT) + 1000 AS tokens_in,
       ROUND(((CAST(FLOOR(length(text) / 4) AS INT) + 1000) * 0.01
              + 500 * 0.03) / 1000.0, 6) AS est_cost_usd
FROM documents ORDER BY doc_id
"""


def _q_arrays_overlap(spark, sf):
    """K5: language-set intersection analog (arrays_overlap)."""
    d = _t(spark, sf, "documents")
    toks = F.split(ws_trim(F.col("text")), r"\s+")
    head = F.slice(toks, 1, 5)
    tail = F.slice(toks, -5, 5)
    return (d.select("doc_id",
                     F.arrays_overlap(head, tail).alias("head_tail_overlap"))
            .orderBy("doc_id"))


_SQL_ARRAYS_OVERLAP = r"""
SELECT doc_id,
       len(list_intersect(toks[1:5], toks[-5:])) > 0 AS head_tail_overlap
FROM (SELECT doc_id, str_split_regex(regexp_replace(text, '^[ \x{0009}-\x{000D}\x{3000}]+|[ \x{0009}-\x{000D}\x{3000}]+$', '', 'g'), '[ \x{0009}-\x{000D}]+') AS toks
      FROM documents) ORDER BY doc_id
"""


def _q_iou_match(spark, sf):
    """J3/V5: IoU >= 0.5 box matching as pure arithmetic; boxes derived
    deterministically from doc_id in both engines."""
    d = _t(spark, sf, "documents").select("doc_id")
    x1 = (F.col("doc_id") % 100).cast("double")
    y1 = (F.col("doc_id") % 73).cast("double")
    a = (x1, y1, x1 + 50, y1 + 40)                  # pred box
    b = (x1 + (F.col("doc_id") % 20), y1, x1 + 50 + (F.col("doc_id") % 20),
         y1 + 40)                                    # gt box shifted
    ix = F.greatest(a[0], b[0])
    iy = F.greatest(a[1], b[1])
    ax = F.least(a[2], b[2])
    ay = F.least(a[3], b[3])
    inter = F.greatest(ax - ix, F.lit(0.0)) * F.greatest(ay - iy, F.lit(0.0))
    union = F.lit(50.0 * 40) * 2 - inter
    iou = inter / union
    return (d.select("doc_id", F.round(iou, 6).alias("iou"),
                     (iou >= 0.5).alias("matched"))
            .orderBy("doc_id"))


_SQL_IOU = """
SELECT doc_id, ROUND(iou, 6) AS iou, iou >= 0.5 AS matched FROM (
  SELECT doc_id,
         greatest(least(x1+50, x1+s+50) - greatest(x1, x1+s), 0)
         * greatest(40.0, 0) / (50.0*40*2 - greatest(least(x1+50, x1+s+50)
         - greatest(x1, x1+s), 0) * 40.0) AS iou
  FROM (SELECT doc_id, CAST(doc_id % 100 AS DOUBLE) AS x1,
               CAST(doc_id % 20 AS DOUBLE) AS s FROM documents))
ORDER BY doc_id
"""


def _q_recent_n(spark, sf):
    """W5: recent-N per key (last 3 events per user by ts)."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .groupBy("user_id")
        .agg(F.round(F.sum(F.col("value").cast("decimal(18,2)"))
                     .cast("double"), 2).alias("recent3_value"))
        .orderBy("user_id")
    )


_SQL_RECENT_N = """
SELECT user_id,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
       AS recent3_value
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) rn
      FROM events) WHERE rn <= 3 GROUP BY user_id ORDER BY user_id
"""


def _q_strategy_accuracy(spark, sf):
    """A9: per-method accuracy + deterministic best (feedback analog built
    from events: method=event_type, was_correct=value>50)."""
    e = _t(spark, sf, "events")
    acc = (
        e.groupBy(F.col("event_type").alias("extraction_method"))
        .agg(F.count("*").alias("n"),
             F.round(F.avg((F.col("value") > 50).cast("int")), 6)
             .alias("accuracy"))
    )
    w = Window.orderBy(F.desc("accuracy"), F.asc("extraction_method"))
    return (acc.withColumn("rnk", F.row_number().over(w).cast("long"))
            .orderBy("extraction_method"))


_SQL_STRATEGY_ACC = """
SELECT extraction_method, n, accuracy,
       ROW_NUMBER() OVER (ORDER BY accuracy DESC, extraction_method ASC)
       AS rnk
FROM (SELECT event_type AS extraction_method, COUNT(*) AS n,
             ROUND(AVG(CASE WHEN value > 50 THEN 1 ELSE 0 END), 6)
             AS accuracy
      FROM events GROUP BY event_type)
ORDER BY extraction_method
"""


def _q_rel_tolerance(spark, sf):
    """±5% relative numeric match rule (document_processor.py:428-444)."""
    o = _t(spark, sf, "orders")
    rounded = (F.round(F.col("o_totalprice") / 1000.0) * 1000.0)
    ok = (F.abs(F.col("o_totalprice") - rounded) / rounded <= 0.05)
    return (
        o.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"),
             F.sum(ok.cast("int")).cast("long").alias("n_within_5pct"))
        .orderBy("o_orderpriority")
    )


_SQL_REL_TOL = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CASE WHEN abs(o_totalprice - round(o_totalprice/1000.0)*1000.0)
                          / (round(o_totalprice/1000.0)*1000.0) <= 0.05
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_within_5pct
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def _q_cube_agg(spark, sf):
    """Grouping-set coverage: CUBE(lang, source) counts."""
    d = _t(spark, sf, "documents")
    return (d.cube("lang", "source")
            .agg(F.count("*").alias("n"))
            .orderBy("lang", "source"))


_SQL_CUBE = """
SELECT lang, source, COUNT(*) AS n FROM documents
GROUP BY CUBE (lang, source) ORDER BY lang, source
"""


def _q_string_surface(spark, sf):
    """§2.8 string scalar surface: upper/trim/split/length/startswith.

    trim() here IS the demonstrated scalar (kept native on both
    engines). Scope note: Spark trims U+0020 only while DuckDB trims
    the Unicode Zs set, so this row would diverge on text edged with
    NBSP/U+3000 — the synthetic corpus has none; every VERDICT-bearing
    operator uses the explicit WS_RANGES trim instead (ws_trim /
    _dtrim, see the published-rules fuzz test)."""
    d = _t(spark, sf, "documents")
    toks = F.split(F.trim("text"), r"\s+")
    return d.select(
        "doc_id",
        F.upper(F.substring(F.trim("text"), 1, 5)).alias("head5_upper"),
        F.element_at(toks, 1).alias("first_word"),
        F.length(F.trim("text")).cast("long").alias("len_trim"),
        F.trim(F.col("text")).startswith("the").alias("starts_the"),
        F.regexp_replace(F.element_at(toks, 2), "[aeiou]", "_")
         .alias("second_devoweled"),
    ).orderBy("doc_id")


_SQL_STRING_SURFACE = r"""
SELECT doc_id,
       upper(substr(trim(text), 1, 5)) AS head5_upper,
       toks[1] AS first_word,
       length(trim(text)) AS len_trim,
       starts_with(trim(text), 'the') AS starts_the,
       regexp_replace(toks[2], '[aeiou]', '_', 'g') AS second_devoweled
FROM (SELECT doc_id, text, str_split_regex(trim(text), '[ \x{0009}-\x{000D}]+') AS toks
      FROM documents) ORDER BY doc_id
"""


def _q_batch_summary(spark, sf):
    """A6/A7: batch/stats rollup per source."""
    d = _t(spark, sf, "documents")
    return (
        d.groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.sum(F.col("n_chars")).cast("long").alias("total_chars"),
             F.round(F.avg("n_chars"), 6).alias("avg_chars"),
             F.sum((F.col("n_chars") > 300).cast("int")).cast("long")
             .alias("n_long"))
        .orderBy("source")
    )


_SQL_BATCH_SUMMARY = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       ROUND(AVG(n_chars), 6) AS avg_chars,
       CAST(SUM(CASE WHEN n_chars > 300 THEN 1 ELSE 0 END) AS BIGINT)
       AS n_long
FROM documents GROUP BY source ORDER BY source
"""


def _q_vision_gates(spark, sf):
    """V2/V3 heuristic gates as pure arithmetic on synthetic marks derived
    from doc_id (region prior, area band, aspect band)."""
    d = _t(spark, sf, "documents").select("doc_id")
    page_w, page_h = 1000.0, 1000.0
    y1 = (F.col("doc_id") % 1000).cast("double")
    w = (100 + F.col("doc_id") % 300).cast("double")
    h = (30 + F.col("doc_id") % 80).cast("double")
    area = w * h
    region_area = page_w * page_h * 0.4
    aspect = w / h
    qualifies = (
        (y1 >= page_h * 0.6)
        & (area > 0.005 * region_area) & (area < 0.15 * region_area)
        & (aspect > 1.5) & (aspect < 6.0)
    )
    return (d.select("doc_id", F.round(aspect, 6).alias("aspect"),
                     qualifies.alias("is_signature"))
            .orderBy("doc_id"))


_SQL_VISION_GATES = """
SELECT doc_id, ROUND(aspect, 6) AS aspect,
       (y1 >= 600.0 AND area > 0.005*400000.0 AND area < 0.15*400000.0
        AND aspect > 1.5 AND aspect < 6.0) AS is_signature
FROM (SELECT doc_id,
             CAST(doc_id % 1000 AS DOUBLE) AS y1,
             CAST(100 + doc_id % 300 AS DOUBLE)
             * CAST(30 + doc_id % 80 AS DOUBLE) AS area,
             CAST(100 + doc_id % 300 AS DOUBLE)
             / CAST(30 + doc_id % 80 AS DOUBLE) AS aspect
      FROM documents) ORDER BY doc_id
"""


def _q_tfidf_terms(spark, sf):
    return TQ.tfidf_top_terms(_t(spark, sf, "documents"), k=20)


_SQL_TFIDF = f"""
WITH words AS (
  SELECT doc_id, lower(w) AS word
  FROM (SELECT doc_id, UNNEST({_DUCK_TOKS}) AS w
        FROM documents)
  WHERE w != ''),
n AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM documents),
stats AS (
  SELECT word, COUNT(DISTINCT doc_id) AS doc_freq, COUNT(*) AS total_tf
  FROM words GROUP BY word)
SELECT word, doc_freq, total_tf,
       ROUND(ln((n.n_docs + 1) / (doc_freq + 1)), 6) AS idf,
       ROUND(total_tf * ln((n.n_docs + 1) / (doc_freq + 1)), 6) AS tfidf
FROM stats, n
ORDER BY tfidf DESC, word ASC LIMIT 20
"""


def _q_zone_struct(spark, sf):
    """P9/ocr zones (ocr_service.py:143-165): blocks classified
    header/body/footer by relative y-center against the ZONE_* cutoffs,
    block counts grouped by zone. Block layout is hash-derived from
    doc_id so both engines synthesize identical geometry."""
    d = _t(spark, sf, "documents").select("doc_id")
    n_blocks = F.col("doc_id") % 7 + 3          # 3..9 blocks per doc
    blocks = d.select(
        "doc_id", F.explode(F.sequence(F.lit(0), n_blocks - 1)).alias("i"))
    y1 = (F.col("doc_id") * 37 + F.col("i") * 23) % 95
    rel = (y1 * 2 + 5) / F.lit(200.0)           # y2 = y1+5, page_h = 100
    zone = (F.when(rel < C.ZONE_HEADER_MAX, "header")
            .when(rel > C.ZONE_FOOTER_MIN, "footer")
            .otherwise("body"))
    return (blocks.select(zone.alias("zone"))
            .groupBy("zone").agg(F.count("*").alias("n_blocks"))
            .orderBy("zone"))


_SQL_ZONE_STRUCT = f"""
WITH blocks AS (
  SELECT doc_id, UNNEST(range(0, doc_id % 7 + 3)) AS i FROM documents),
z AS (
  SELECT CASE
           WHEN (((doc_id * 37 + i * 23) % 95) * 2 + 5) / 200.0
                < {C.ZONE_HEADER_MAX} THEN 'header'
           WHEN (((doc_id * 37 + i * 23) % 95) * 2 + 5) / 200.0
                > {C.ZONE_FOOTER_MIN} THEN 'footer'
           ELSE 'body'
         END AS zone
  FROM blocks)
SELECT zone, COUNT(*) AS n_blocks FROM z GROUP BY zone ORDER BY zone
"""


# --- token budgeting (operators/textquality.py round-3 additions) ----------


def _q_token_estimate(spark, sf):
    return (TQ.with_token_estimate(_t(spark, sf, "documents"))
            .select("doc_id", "token_estimate").orderBy("doc_id"))


_TOKEN_EST_SQL = f"""
CAST(coalesce(list_sum(list_transform(regexp_extract_all(text,
         '[{ALPHA_RANGES}]+'), w -> CAST(ceil(length(w) / 4.0) AS INT))), 0)
   + coalesce(list_sum(list_transform(regexp_extract_all(text,
         '[0-9]+'), d -> CAST(ceil(length(d) / 3.0) AS INT))), 0)
   + len(regexp_extract_all(text, '[{CJK_RANGES}]'))
   + len(regexp_extract_all(text,
         '[^{ALPHA_RANGES}0-9{WS_RANGES}{CJK_RANGES}]'))
   AS BIGINT)
"""

_SQL_TOKEN_ESTIMATE = f"""
SELECT doc_id, {_TOKEN_EST_SQL} AS token_estimate
FROM documents ORDER BY doc_id
"""


def _q_token_budget(spark, sf):
    return TQ.token_budget(fan_out(_t(spark, sf, "documents")))


_SQL_TOKEN_BUDGET = f"""
WITH est AS (
  SELECT lang, source, {_TOKEN_EST_SQL} AS token_estimate FROM documents),
per AS (
  SELECT lang, source, COUNT(*) AS n_docs,
         CAST(SUM(token_estimate) AS BIGINT) AS total_tokens,
         ROUND(AVG(token_estimate), 6) AS avg_tokens
  FROM est GROUP BY lang, source)
SELECT lang, source, n_docs, total_tokens, avg_tokens,
       ROUND(total_tokens / (SELECT CAST(SUM(total_tokens) AS DOUBLE)
                             FROM per), 6) AS budget_share
FROM per ORDER BY lang, source
"""


def _q_curation_budget(spark, sf):
    """End-to-end curation composition (operators/curation.py): quality
    gate -> near-dup cluster removal -> per-(lang, source) token budget,
    over the dup-planted corpus (mutated copies keep lang/source)."""
    from document_ai_spark.operators.curation import curate

    # fan_out before the union + single-eval split — see _dup_docs.
    d = fan_out(_t(spark, sf, "documents")
                .select("doc_id", "text", "lang", "source"))
    mut = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr(f"element_at(transform(array(split({ws_trim_sql('text')}, "
               "'\\\\s+')), w -> array_join(slice(w, 2, size(w)), ' ')), 1)"
               ).alias("text"),
        "lang", "source")
    return curate(d.unionByName(mut), quality_min=0.8, jaccard_min=0.5)


_SQL_CURATION_BUDGET = f"""
WITH RECURSIVE
base AS (
  SELECT doc_id, text, lang, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         coalesce(array_to_string(
             list_slice(str_split_regex({_dtrim('text')}, '[ \\x{{0009}}-\\x{{000D}}]+'), 2,
                        len(str_split_regex({_dtrim('text')}, '[ \\x{{0009}}-\\x{{000D}}]+'))), ' '), '')
           AS text,
         lang, source FROM documents),
scored AS (
  SELECT doc_id, text, lang, source,
         ROUND((CASE WHEN n < 10 THEN n/10.0 WHEN n > 1000 THEN 0.5
                     ELSE 1.0 END) * 0.6
               + (CASE WHEN sr BETWEEN 0.05 AND 0.6 THEN 1.0
                       ELSE 0.5 END) * 0.4, 6) AS quality_score
  FROM (SELECT doc_id, text, lang, source, len(toks) AS n,
               ROUND(len(list_filter(toks,
                   w -> list_contains({_STOP_SQL}, lower(w))))
                     / greatest(len(toks), 1), 6) AS sr
        FROM (SELECT doc_id, text, lang, source,
                     {_DUCK_TOKS} AS toks
              FROM base))),
q AS (SELECT doc_id, text, lang, source FROM scored
      WHERE quality_score >= 0.8),
sk AS (
  SELECT doc_id,
         list_slice(list_sort(list_distinct(
             list_transform(sh, s -> md5(s)))), 1, 8) AS sketch,
         {_SIG_SQL} AS sig
  FROM (SELECT doc_id, sh, {_HS_SQL} AS hs
        FROM (SELECT doc_id, {_SHINGLE_SQL} AS sh
              FROM (SELECT doc_id,
                           {_DUCK_TOKS} AS toks
                    FROM q)))),
banded AS (
  SELECT doc_id, sketch, t.b AS band,
         md5(array_to_string(list_slice(sig, t.b*2 + 1, t.b*2 + 2), '|'))
         AS band_hash
  FROM sk, range(0, 4) t(b)),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         any_value(a.sketch) AS sk_a, any_value(b.sketch) AS sk_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT doc_a, doc_b FROM cand
  WHERE len(list_intersect(sk_a, sk_b))
        / len(list_distinct(sk_a || sk_b)) >= 0.5),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
reach AS (
  SELECT DISTINCT u AS doc_id, u AS r FROM edges
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.doc_id = e.v),
clusters AS (SELECT doc_id, MIN(r) AS cluster FROM reach GROUP BY doc_id),
kept AS (
  SELECT * FROM q WHERE doc_id NOT IN
    (SELECT doc_id FROM clusters WHERE doc_id != cluster)),
est AS (
  SELECT lang, source, {_TOKEN_EST_SQL} AS token_estimate FROM kept),
per AS (
  SELECT lang, source, COUNT(*) AS n_docs,
         CAST(SUM(token_estimate) AS BIGINT) AS total_tokens,
         ROUND(AVG(token_estimate), 6) AS avg_tokens
  FROM est GROUP BY lang, source)
SELECT lang, source, n_docs, total_tokens, avg_tokens,
       ROUND(total_tokens / (SELECT CAST(SUM(total_tokens) AS DOUBLE)
                             FROM per), 6) AS budget_share
FROM per ORDER BY lang, source
"""


def _q_incremental_near_dup(spark, sf):
    """k-batch INCREMENTAL near-dup via the persisted sketch index
    (operators/sketch_index.py): the oracle is the plain corpus-wide
    banded LSH recompute, so a green row proves incremental == batch."""
    import shutil
    import tempfile

    from document_ai_spark.operators.sketch_index import SketchIndex

    docs = _dup_docs(spark, sf)
    # The only registry entry with a write side effect (the persisted
    # index); append_and_find localCheckpoints its result eagerly, so the
    # on-disk index is safe to remove before returning — repeated driver/
    # bench/test invocations leave no /tmp residue.
    root = tempfile.mkdtemp(prefix="sketch_idx_")
    try:
        idx = SketchIndex(root)
        parts = [docs.where(
            F.pmod(F.xxhash64(F.col("doc_id").cast("string")),
                   F.lit(3)) == i) for i in range(3)]
        out = None
        for i, b in enumerate(parts):
            p = idx.append_and_find(spark, b, batch_id=f"b{i}",
                                    jaccard_min=0.5)
            out = p if out is None else out.unionByName(p)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out.orderBy("doc_a", "doc_b")


def _q_quality_gates(spark, sf):
    """Composite pretraining-quality gate (operators/curation.py
    quality_gates): quality bands + Gopher repetition filters + unigram
    LM word-salad filter, with the combined keep verdict. Thresholds
    calibrated on the labeled micro-corpus (CALIBRATION.md)."""
    from document_ai_spark.operators.curation import quality_gates

    return (quality_gates(fan_out(_t(spark, sf, "documents")), logprob_min=-8.0)
            .orderBy("doc_id"))


_SQL_QUALITY_GATES = f"""
WITH toks AS (
  SELECT doc_id, text, {_DUCK_TOKS} AS t FROM documents),
q AS (
  SELECT doc_id,
         ROUND((CASE WHEN n < 10 THEN n/10.0 WHEN n > 1000 THEN 0.5
                     ELSE 1.0 END) * 0.6
               + (CASE WHEN sr BETWEEN 0.05 AND 0.6 THEN 1.0
                       ELSE 0.5 END) * 0.4, 6) AS quality_score
  FROM (SELECT doc_id, len(t) AS n,
               ROUND(len(list_filter(t,
                   w -> list_contains({_STOP_SQL}, lower(w))))
                     / greatest(len(t), 1), 6) AS sr
        FROM toks)),
lines AS (
  SELECT doc_id, {_dtrim('l')} AS line
  FROM (SELECT doc_id, unnest(str_split(text, chr(10))) AS l
        FROM documents)
  WHERE {_dtrim('l')} <> ''),
line_stats AS (
  SELECT doc_id, SUM(c) AS n_lines,
         SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_lines
  FROM (SELECT doc_id, line, COUNT(*) AS c FROM lines GROUP BY 1, 2)
  GROUP BY doc_id),
bigrams AS (
  SELECT doc_id, unnest(list_transform(
      generate_series(1, greatest(len(t) - 1, 1)),
      i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS bigram
  FROM toks),
bigram_stats AS (
  SELECT doc_id, MAX(c) AS top_bigram_count
  FROM (SELECT doc_id, bigram, COUNT(*) AS c FROM bigrams GROUP BY 1, 2)
  GROUP BY doc_id),
rep AS (
  SELECT tk.doc_id,
         ROUND(COALESCE(ls.dup_lines, 0) / COALESCE(ls.n_lines, 1), 6)
           AS dup_line_frac,
         ROUND(CASE WHEN len(tk.t) >= 2
                    THEN bs.top_bigram_count * 2.0 / len(tk.t)
                    ELSE 0.0 END, 6) AS top_bigram_frac
  FROM toks tk
  LEFT JOIN line_stats ls USING (doc_id)
  LEFT JOIN bigram_stats bs USING (doc_id)),
words AS (
  SELECT doc_id, lower(w) AS word
  FROM (SELECT doc_id, unnest(t) AS w FROM toks) WHERE w <> ''),
freqs AS (SELECT word, COUNT(*) AS wc FROM words GROUP BY word),
tot AS (SELECT CAST(SUM(wc) AS DOUBLE) AS n_tok,
               CAST(COUNT(*) AS DOUBLE) AS vocab FROM freqs),
lp AS (
  SELECT doc_id,
         ROUND(AVG(ln((wc + 1) / (n_tok + vocab))), 6) AS unigram_logprob
  FROM words JOIN freqs USING (word), tot GROUP BY doc_id)
SELECT q.doc_id, q.quality_score, rep.dup_line_frac, rep.top_bigram_frac,
       lp.unigram_logprob,
       (q.quality_score >= 0.8 AND rep.dup_line_frac <= 0.3
        AND rep.top_bigram_frac <= 0.2
        AND COALESCE(lp.unigram_logprob, -1e9) >= -8.0) AS keep
FROM q JOIN rep ON q.doc_id = rep.doc_id
LEFT JOIN lp ON q.doc_id = lp.doc_id
ORDER BY q.doc_id
"""

# Shared CTE body: per-doc unigram logprob (same as _SQL_QUALITY_GATES's
# lp chain) + per-(lang, source) Tukey lower fence (curation.py
# slice_logprob_floors; Spark exact `percentile` == DuckDB quantile_cont,
# both linear-interpolating, floors rounded to 4 on both engines).
_FLOORS_CTE = f"""
toks AS (
  SELECT doc_id, text, {_DUCK_TOKS} AS t FROM documents),
words AS (
  SELECT doc_id, lower(w) AS word
  FROM (SELECT doc_id, unnest(t) AS w FROM toks) WHERE w <> ''),
freqs AS (SELECT word, COUNT(*) AS wc FROM words GROUP BY word),
tot AS (SELECT CAST(SUM(wc) AS DOUBLE) AS n_tok,
               CAST(COUNT(*) AS DOUBLE) AS vocab FROM freqs),
lp AS (
  SELECT doc_id,
         ROUND(AVG(ln((wc + 1) / (n_tok + vocab))), 6) AS unigram_logprob
  FROM words JOIN freqs USING (word), tot GROUP BY doc_id),
floors AS (
  SELECT d.lang, d.source,
         ROUND(quantile_cont(lp.unigram_logprob, 0.25)
               - 3.0 * (quantile_cont(lp.unigram_logprob, 0.75)
                        - quantile_cont(lp.unigram_logprob, 0.25)), 4)
           AS logprob_floor
  FROM lp JOIN documents d USING (doc_id)
  GROUP BY d.lang, d.source)"""


def _q_logprob_floors(spark, sf):
    """Per-(lang, source) auto word-salad threshold (curation.py
    slice_logprob_floors): Tukey lower fence of the slice's per-doc
    unigram-logprob distribution — the unsupervised rule that replaces
    the manual corpus-relative logprob_min constant."""
    from document_ai_spark.operators.curation import slice_logprob_floors

    return (slice_logprob_floors(fan_out(_t(spark, sf, "documents")))
            .orderBy("lang", "source"))


_SQL_LOGPROB_FLOORS = f"""
WITH {_FLOORS_CTE}
SELECT lang, source, logprob_floor FROM floors ORDER BY lang, source
"""


def _q_quality_gates_auto(spark, sf):
    """quality_gates with logprob_min='auto': the word-salad gate uses
    the per-slice derived floor instead of a global constant."""
    from document_ai_spark.operators.curation import quality_gates

    return (quality_gates(fan_out(_t(spark, sf, "documents")), logprob_min="auto")
            .orderBy("doc_id"))


_SQL_QUALITY_GATES_AUTO = f"""
WITH {_FLOORS_CTE},
q AS (
  SELECT doc_id,
         ROUND((CASE WHEN n < 10 THEN n/10.0 WHEN n > 1000 THEN 0.5
                     ELSE 1.0 END) * 0.6
               + (CASE WHEN sr BETWEEN 0.05 AND 0.6 THEN 1.0
                       ELSE 0.5 END) * 0.4, 6) AS quality_score
  FROM (SELECT doc_id, len(t) AS n,
               ROUND(len(list_filter(t,
                   w -> list_contains({_STOP_SQL}, lower(w))))
                     / greatest(len(t), 1), 6) AS sr
        FROM toks)),
lines AS (
  SELECT doc_id, {_dtrim('l')} AS line
  FROM (SELECT doc_id, unnest(str_split(text, chr(10))) AS l
        FROM documents)
  WHERE {_dtrim('l')} <> ''),
line_stats AS (
  SELECT doc_id, SUM(c) AS n_lines,
         SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_lines
  FROM (SELECT doc_id, line, COUNT(*) AS c FROM lines GROUP BY 1, 2)
  GROUP BY doc_id),
bigrams AS (
  SELECT doc_id, unnest(list_transform(
      generate_series(1, greatest(len(t) - 1, 1)),
      i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS bigram
  FROM toks),
bigram_stats AS (
  SELECT doc_id, MAX(c) AS top_bigram_count
  FROM (SELECT doc_id, bigram, COUNT(*) AS c FROM bigrams GROUP BY 1, 2)
  GROUP BY doc_id),
rep AS (
  SELECT tk.doc_id,
         ROUND(COALESCE(ls.dup_lines, 0) / COALESCE(ls.n_lines, 1), 6)
           AS dup_line_frac,
         ROUND(CASE WHEN len(tk.t) >= 2
                    THEN bs.top_bigram_count * 2.0 / len(tk.t)
                    ELSE 0.0 END, 6) AS top_bigram_frac
  FROM toks tk
  LEFT JOIN line_stats ls USING (doc_id)
  LEFT JOIN bigram_stats bs USING (doc_id))
SELECT q.doc_id, q.quality_score, rep.dup_line_frac, rep.top_bigram_frac,
       lp.unigram_logprob, d.lang, d.source, f.logprob_floor,
       (q.quality_score >= 0.8 AND rep.dup_line_frac <= 0.3
        AND rep.top_bigram_frac <= 0.2
        AND COALESCE(lp.unigram_logprob, -1e9)
            >= COALESCE(f.logprob_floor, 1e9)) AS keep
FROM q JOIN rep ON q.doc_id = rep.doc_id
JOIN documents d ON q.doc_id = d.doc_id
LEFT JOIN lp ON q.doc_id = lp.doc_id
LEFT JOIN floors f ON d.lang IS NOT DISTINCT FROM f.lang
                  AND d.source IS NOT DISTINCT FROM f.source
ORDER BY q.doc_id
"""


def _q_line_dedup(spark, sf):
    """Corpus-level exact line dedup (CCNet/C4/RefinedWeb boilerplate
    pass) over documents plus a planted copy of every 10th doc, so the
    copied docs' lines are hot (>= 2 distinct docs) and get removed
    everywhere except their canonical (min doc_id) source."""
    from document_ai_spark.operators.curation import line_dedup

    base = fan_out(_t(spark, sf, "documents").select("doc_id", "text"))
    dup = (base.where(F.col("doc_id") % 10 == 0)
           .select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    return line_dedup(base.unionByName(dup)).orderBy("doc_id")


_SQL_LINE_DEDUP = """
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
  WHERE doc_id % 10 = 0),
lines AS (
  -- zipped unnest: pos and line advance in lockstep
  SELECT doc_id, unnest(generate_series(1, len(l))) AS pos,
         unnest(l) AS line
  FROM (SELECT doc_id, str_split(coalesce(text, ''), chr(10)) AS l
        FROM base)),
keyed AS (SELECT doc_id, pos, line, md5(line) AS lk FROM lines),
hot AS (
  SELECT lk, MIN(doc_id) AS keep_doc_id
  FROM keyed WHERE regexp_replace(line, '^[ \\x{0009}-\\x{000D}\\x{3000}]+|[ \\x{0009}-\\x{000D}\\x{3000}]+$', '', 'g') <> ''
  GROUP BY lk HAVING COUNT(DISTINCT doc_id) >= 2),
kept AS (
  SELECT k.doc_id, k.pos, k.line
  FROM keyed k LEFT JOIN hot h USING (lk)
  WHERE h.keep_doc_id IS NULL OR k.doc_id = h.keep_doc_id),
reb AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_dedup,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY doc_id)
SELECT t.doc_id, coalesce(r.text_dedup, '') AS text_dedup,
       t.n_lines, t.n_lines - coalesce(r.n_kept, 0) AS n_removed
FROM tot t LEFT JOIN reb r USING (doc_id)
ORDER BY t.doc_id
"""


# PII / URL plants: deterministic synthetic addresses appended to every
# k-th doc so the scrub/histogram has known ground truth at any SF. The
# SAME expression string runs on both engines (the _HP_PLANT idiom).
_PII_PLANT = (
    "concat(text,"
    " CASE WHEN doc_id % 3 = 0 THEN concat(' contact user',"
    " cast(doc_id % 97 as string), '@mail', cast(doc_id % 7 as string),"
    " '.example.com') ELSE '' END,"
    " CASE WHEN doc_id % 4 = 0 THEN concat(' call +',"
    " cast(1 + doc_id % 98 as string), '-',"
    " cast(200 + doc_id % 800 as string), '-',"
    " cast(1000 + doc_id % 9000 as string)) ELSE '' END,"
    " CASE WHEN doc_id % 5 = 0 THEN concat(' from 10.',"
    " cast(doc_id % 256 as string), '.0.',"
    " cast(doc_id % 250 as string)) ELSE '' END)"
)

_URL_PLANT = (
    "concat(text,"
    " CASE WHEN doc_id % 2 = 0 THEN concat(' see https://w',"
    " cast(doc_id % 5 as string), '.ex', cast(doc_id % 23 as string),"
    " CASE doc_id % 3 WHEN 0 THEN '.com/p/' WHEN 1 THEN '.org/p/'"
    " ELSE '.net/p/' END,"
    " cast(doc_id as string), ' ') ELSE '' END,"
    " CASE WHEN doc_id % 6 = 0 THEN concat(' and http://ex',"
    " cast(doc_id % 23 as string), '.org/q/', cast(doc_id as string),"
    " ' ') ELSE '' END)"
)


def _q_pii_scrub(spark, sf):
    """PII redaction (operators/web.py scrub_pii): e-mail/phone/IPv4 ->
    typed placeholders + per-doc removal counts, on documents with
    deterministically planted addresses. clean_md5 hashes the scrubbed
    text so the oracle checks the REPLACEMENT bytes, not just counts."""
    from document_ai_spark.operators.web import scrub_pii

    # Sort-first: the plant + scrub are zero-exchange per-row work (see
    # gopher_rules note); the sort moves only the raw (doc_id, text).
    d = (_t(spark, sf, "documents").select("doc_id", "text")
         .orderBy("doc_id")
         .select("doc_id", F.expr(_PII_PLANT).alias("text")))
    return (scrub_pii(d)
            .select("doc_id", F.md5("text").alias("clean_md5"),
                    "n_email", "n_phone", "n_ipv4"))


def _sql_pii_scrub():
    from document_ai_spark.operators.web import (
        EMAIL_PATTERN, IPV4_PATTERN, PHONE_PATTERN)
    return f"""
WITH planted AS (SELECT doc_id, {_PII_PLANT} AS text FROM documents)
SELECT doc_id,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
           '{EMAIL_PATTERN}', '<EMAIL>', 'g'),
           '{PHONE_PATTERN}', '<PHONE>', 'g'),
           '{IPV4_PATTERN}', '<IP>', 'g')) AS clean_md5,
       len(regexp_extract_all(text, '{EMAIL_PATTERN}')) AS n_email,
       len(regexp_extract_all(text, '{PHONE_PATTERN}')) AS n_phone,
       len(regexp_extract_all(text, '{IPV4_PATTERN}')) AS n_ipv4
FROM planted ORDER BY doc_id
"""


def _q_domain_stats(spark, sf):
    """Per-registrable-domain URL histogram (operators/web.py
    domain_stats) over documents with deterministically planted links —
    the C4/CommonCrawl domain-balance job."""
    from document_ai_spark.operators.web import domain_stats

    d = _t(spark, sf, "documents").select(
        "doc_id", F.expr(_URL_PLANT).alias("text"))
    return domain_stats(d)


def _sql_domain_stats():
    from document_ai_spark.operators.web import DOMAIN_PATTERN, URL_PATTERN
    return f"""
WITH planted AS (SELECT doc_id, {_URL_PLANT} AS text FROM documents),
urls AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text, '{URL_PATTERN}', 1)) AS host
  FROM planted)
SELECT regexp_extract(host, '{DOMAIN_PATTERN}', 1) AS domain,
       COUNT(*) AS n_urls, COUNT(DISTINCT doc_id) AS n_docs
FROM urls GROUP BY domain ORDER BY domain
"""


_DUP_SPAN_W = 5


def _q_dup_span_frac(spark, sf):
    """Exact-substring duplication signal (operators/curation.py
    dup_span_stats — Lee et al. 2022 ExactSubstr, doc-filter form):
    per-doc fraction of tokens covered by a w-token window whose
    fingerprint occurs in >= 2 distinct documents; coverage exact under
    window overlap. w=5 suits the small-vocab test corpus (production
    default is 50)."""
    from document_ai_spark.operators.curation import dup_span_stats

    return (dup_span_stats(fan_out(_t(spark, sf, "documents")), w=_DUP_SPAN_W)
            .orderBy("doc_id"))


_SQL_DUP_SPAN = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
base AS (
  SELECT doc_id, len(t) AS n_tokens,
         CASE WHEN len(t) = 0 THEN []
              ELSE list_transform(
                  generate_series(1, greatest(len(t) - {_DUP_SPAN_W - 1}, 1)),
                  i -> md5(array_to_string(
                           list_slice(t, i, i + {_DUP_SPAN_W - 1}), ' ')))
         END AS fps
  FROM toks),
win AS (
  SELECT doc_id, n_tokens,
         unnest(generate_series(1, len(fps))) AS s,
         unnest(fps) AS fp
  FROM base WHERE len(fps) > 0),
hot AS (SELECT fp FROM win GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2),
hw AS (SELECT w.doc_id, w.s, w.n_tokens FROM win w JOIN hot USING (fp)),
cov AS (
  SELECT doc_id, COUNT(DISTINCT p) AS covered
  FROM (SELECT doc_id,
               unnest(generate_series(s, least(s + {_DUP_SPAN_W - 1},
                                               n_tokens))) AS p
        FROM hw)
  GROUP BY doc_id),
dw AS (SELECT doc_id, COUNT(*) AS n_dup_windows FROM hw GROUP BY doc_id)
SELECT b.doc_id,
       CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CAST(CASE WHEN b.n_tokens = 0 THEN 0 ELSE len(b.fps) END AS BIGINT)
         AS n_windows,
       CAST(COALESCE(dw.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       ROUND(COALESCE(c.covered, 0) / greatest(b.n_tokens, 1), 6)
         AS dup_span_frac
FROM base b
LEFT JOIN dw USING (doc_id) LEFT JOIN cov c USING (doc_id)
ORDER BY b.doc_id
"""


def _q_rebalance_sample(spark, sf):
    """Temperature mixture rebalancing (operators/curation.py
    temperature_rebalance, tau=2): per-(lang, source) keep fractions
    proportional to sqrt-flattened slice shares, applied via the
    deterministic md5 keep rule. tau=2 keeps the whole cut computation
    inside exactly-rounded IEEE ops (sqrt/div/mul), so the oracle's
    cuts are bit-identical."""
    from document_ai_spark.operators.curation import temperature_rebalance

    out = temperature_rebalance(_t(spark, sf, "documents"), tau=2.0)
    return (out.select("doc_id", "lang", "source",
                       F.round("keep_frac", 6).alias("keep_frac"))
            .orderBy("doc_id"))


_SQL_REBALANCE = """
WITH n AS (SELECT lang, source, COUNT(*) AS n_docs
           FROM documents GROUP BY 1, 2),
t AS (SELECT SUM(n_docs) AS n_total FROM n),
w AS (SELECT lang, source, 1 / sqrt(n_docs / n_total) AS w FROM n, t),
f AS (SELECT lang, source, w / (SELECT MAX(w) FROM w) AS keep_frac FROM w)
SELECT d.doc_id, d.lang, d.source, ROUND(f.keep_frac, 6) AS keep_frac
FROM documents d JOIN f ON d.lang IS NOT DISTINCT FROM f.lang
                       AND d.source IS NOT DISTINCT FROM f.source
WHERE f.keep_frac >= 1.0
   OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
      < lower(lpad(hex(CAST(floor(f.keep_frac * 4294967296) AS BIGINT)),
                   8, '0'))
ORDER BY d.doc_id
"""


def _q_incremental_dup_span(spark, sf):
    """2-batch INCREMENTAL exact-substring scoring via the persisted
    hot-span index (operators/span_index.py SpanIndex, first-seen-wins:
    batch 0 is scored against its own window counts only, batch 1
    against batch 0 + itself). The oracle mirrors the PREFIX semantics
    exactly — per-fp distinct-doc counts at each batch level — so a
    green row proves the accretion math, not just the happy path."""
    import shutil
    import tempfile

    from document_ai_spark.operators.span_index import SpanIndex

    docs = _t(spark, sf, "documents")
    root = tempfile.mkdtemp(prefix="span_idx_")
    try:
        idx = SpanIndex(root, w=_DUP_SPAN_W)
        lo = docs.where(F.col("doc_id") < 250)
        hi = docs.where(F.col("doc_id") >= 250)
        out = (idx.append_and_score(spark, lo, "b0")
               .unionByName(idx.append_and_score(spark, hi, "b1")))
        return out.orderBy("doc_id")
    finally:
        shutil.rmtree(root, ignore_errors=True)


_SQL_INCR_DUP_SPAN = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
base AS (
  SELECT doc_id, CASE WHEN doc_id < 250 THEN 0 ELSE 1 END AS b,
         len(t) AS n_tokens,
         CASE WHEN len(t) = 0 THEN []
              ELSE list_transform(
                  generate_series(1, greatest(len(t) - {_DUP_SPAN_W - 1}, 1)),
                  i -> md5(array_to_string(
                           list_slice(t, i, i + {_DUP_SPAN_W - 1}), ' ')))
         END AS fps
  FROM toks),
win AS (
  SELECT doc_id, b, n_tokens,
         unnest(generate_series(1, len(fps))) AS s,
         unnest(fps) AS fp
  FROM base WHERE len(fps) > 0),
counts AS (
  SELECT fp,
         COUNT(DISTINCT CASE WHEN b = 0 THEN doc_id END) AS c0,
         COUNT(DISTINCT doc_id) AS c_all
  FROM win GROUP BY fp),
hw AS (
  SELECT w.doc_id, w.s, w.n_tokens FROM win w JOIN counts c USING (fp)
  WHERE (w.b = 0 AND c.c0 >= 2) OR (w.b = 1 AND c.c_all >= 2)),
cov AS (
  SELECT doc_id, COUNT(DISTINCT p) AS covered
  FROM (SELECT doc_id,
               unnest(generate_series(s, least(s + {_DUP_SPAN_W - 1},
                                               n_tokens))) AS p
        FROM hw)
  GROUP BY doc_id),
dw AS (SELECT doc_id, COUNT(*) AS n_dup_windows FROM hw GROUP BY doc_id)
SELECT b.doc_id,
       CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CAST(CASE WHEN b.n_tokens = 0 THEN 0 ELSE len(b.fps) END AS BIGINT)
         AS n_windows,
       CAST(COALESCE(dw.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       ROUND(COALESCE(c.covered, 0) / greatest(b.n_tokens, 1), 6)
         AS dup_span_frac
FROM base b
LEFT JOIN dw USING (doc_id) LEFT JOIN cov c USING (doc_id)
ORDER BY b.doc_id
"""


def _q_pack_sequences(spark, sf):
    """GPT-style concatenate-and-split training-sequence packing
    (operators/curation.py pack_sequences): global token-stream offsets
    via a distributed two-pass prefix sum (per-bucket totals, a carry
    window over the tiny bucket table, bounded within-bucket windows) —
    never a window-without-partition over the corpus. seq_len=128 and
    bucket_width=100 exercise multi-chunk docs and multiple buckets at
    sf0.01."""
    from document_ai_spark.operators.curation import pack_sequences

    return (pack_sequences(_t(spark, sf, "documents"),
                           seq_len=128, bucket_width=100)
            .orderBy("doc_id"))


_SQL_PACK_SEQUENCES = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
off AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start_offset
  FROM base)
SELECT doc_id, n_tokens, start_offset,
       start_offset // 128 AS chunk_id,
       start_offset % 128 AS chunk_pos,
       CAST(CASE WHEN n_tokens = 0 THEN 0
            ELSE (start_offset % 128 + n_tokens - 1) // 128 + 1 END
            AS BIGINT) AS n_chunks
FROM off ORDER BY doc_id
"""


def _q_epoch_shuffle(spark, sf):
    """Seeded global training-order permutation (operators/curation.py
    epoch_shuffle): shuffle_pos in 0..n-1 from md5(seed ':' doc_id)
    hash order, computed with the two-pass prefix-sum shape (hex-prefix
    buckets -> tiny carry window -> within-bucket row_number), never a
    corpus-wide ROW_NUMBER on one task."""
    from document_ai_spark.operators.curation import epoch_shuffle

    return (epoch_shuffle(_t(spark, sf, "documents"), seed=42)
            .orderBy("doc_id"))


_SQL_EPOCH_SHUFFLE = """
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (
            ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
            AS BIGINT) AS shuffle_pos
FROM documents ORDER BY doc_id
"""


def _q_pack_shuffled(spark, sf):
    """The full training-manifest composition: epoch_shuffle's seeded
    permutation feeds pack_sequences as the pack order (order_col =
    shuffle_pos — dense 0..n-1, so the bucketed two-pass prefix-sum
    math holds unchanged). One query proves the two layout ops compose
    the way a real pretraining job uses them: shuffle THIS epoch, then
    pack the shuffled stream."""
    from document_ai_spark.operators.curation import (
        epoch_shuffle,
        pack_sequences,
    )

    d = _t(spark, sf, "documents")
    shuf = epoch_shuffle(d, seed=42)
    return (pack_sequences(d.join(shuf, "doc_id"), seq_len=128,
                           bucket_width=100, order_col="shuffle_pos")
            .orderBy("doc_id"))


_SQL_PACK_SHUFFLED = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
shuf AS (SELECT doc_id,
                CAST(ROW_NUMBER() OVER (
                     ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)),
                              doc_id) - 1 AS BIGINT) AS sp
         FROM documents),
base AS (SELECT toks.doc_id, CAST(len(t) AS BIGINT) AS n_tokens, sp
         FROM toks JOIN shuf USING (doc_id)),
off AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY sp
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start_offset
  FROM base)
SELECT doc_id, n_tokens, start_offset,
       start_offset // 128 AS chunk_id,
       start_offset % 128 AS chunk_pos,
       CAST(CASE WHEN n_tokens = 0 THEN 0
            ELSE (start_offset % 128 + n_tokens - 1) // 128 + 1 END
            AS BIGINT) AS n_chunks
FROM off ORDER BY doc_id
"""


def _q_corpus_overlap(spark, sf):
    """Big-vs-big fuzzy corpus overlap (operators/dedup.py
    corpus_overlap): every-3rd doc mutated (first word dropped, id
    shifted) plays the second corpus; each original near-dupping a
    mutation reports (n_b_matches, max_jaccard). Both sides shuffle
    once on banded keys into a shuffle-hash equi join — the
    two-big-corpora member of the contamination family."""
    # fan_out before deriving corpus B + single-eval split (_dup_docs).
    d = fan_out(_t(spark, sf, "documents").select("doc_id", "text"))
    b = d.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr(f"element_at(transform(array(split({ws_trim_sql('text')}, "
               "'\\\\s+')), w -> array_join(slice(w, 2, size(w)), ' ')), 1)"
               ).alias("text"))
    return D.corpus_overlap(d, b, jaccard_min=0.5).orderBy("doc_id")


def _sql_corpus_overlap() -> str:
    bands, rows = 4, 2
    # plain __SRC__ placeholder, NOT str.format: the embedded token /
    # shingle SQL is full of regex braces like \x{0009}
    band_sql = (
        "SELECT doc_id, sketch, t.b AS band,\n"
        "       md5(array_to_string(\n"
        f"           list_slice(sig, t.b * {rows} + 1, "
        f"t.b * {rows} + {rows}), '|')) AS band_hash\n"
        f"FROM __SRC__, range(0, {bands}) t(b)")
    sk_sql = (
        "SELECT doc_id,\n"
        "       list_slice(list_sort(list_distinct(\n"
        "           list_transform(sh, s -> md5(s)))), 1, 8) AS sketch,\n"
        f"       {_sig_sql(bands * rows)} AS sig\n"
        "FROM (SELECT doc_id, sh, " + _HS_SQL + " AS hs\n"
        "      FROM (SELECT doc_id, " + _SHINGLE_SQL + " AS sh\n"
        "            FROM (SELECT doc_id, " + _DUCK_TOKS +
        " AS toks FROM __SRC__))\n"
        "      WHERE len(sh) > 0)")
    return f"""
WITH a_docs AS (SELECT doc_id, text FROM documents),
b_docs AS (
  SELECT doc_id + 1000000 AS doc_id,
         coalesce(array_to_string(
             list_slice(str_split_regex({_dtrim('text')},
                                        '[ \\x{{0009}}-\\x{{000D}}]+'), 2,
                        len(str_split_regex({_dtrim('text')},
                                            '[ \\x{{0009}}-\\x{{000D}}]+'))),
             ' '), '') AS text
  FROM documents WHERE doc_id % 3 = 0),
a_sk AS ({sk_sql.replace('__SRC__', 'a_docs')}),
b_sk AS ({sk_sql.replace('__SRC__', 'b_docs')}),
a_band AS ({band_sql.replace('__SRC__', 'a_sk')}),
b_band AS ({band_sql.replace('__SRC__', 'b_sk')}),
cand AS (
  SELECT a.doc_id, b.doc_id AS b_id,
         ROUND(len(list_intersect(a.sketch, b.sketch))
               / len(list_distinct(a.sketch || b.sketch)), 6) AS jaccard
  FROM a_band a JOIN b_band b USING (band, band_hash)
  WHERE len(list_intersect(a.sketch, b.sketch))
        / len(list_distinct(a.sketch || b.sketch)) >= 0.5)
SELECT doc_id, CAST(COUNT(DISTINCT b_id) AS BIGINT) AS n_b_matches,
       MAX(jaccard) AS max_jaccard
FROM cand GROUP BY doc_id ORDER BY doc_id
"""


def _q_budget_sample(spark, sf):
    """Absolute per-slice token budget (operators/curation.py
    budget_sample): each (lang, source) slice keeps docs with
    probability min(1, budget / slice_tokens) under the seeded
    md5-prefix rule — the unit-of-tokens complement to
    rebalance_sample's doc-share flattening. budget=200 leaves the smallest
    slices intact and thins most others at test SFs."""
    from document_ai_spark.operators.curation import budget_sample

    return (budget_sample(_t(spark, sf, "documents"), max_tokens=200)
            .select("doc_id", "slice_tokens",
                    F.round("keep_frac", 6).alias("keep_frac"))
            .orderBy("doc_id"))


_SQL_BUDGET_SAMPLE = f"""
WITH toks AS (SELECT doc_id, lang, source,
                     CAST(len({_DUCK_TOKS}) AS BIGINT) AS nt
              FROM documents),
tot AS (SELECT lang, source, SUM(nt) AS slice_tokens
        FROM toks GROUP BY 1, 2),
fr AS (SELECT lang, source, CAST(slice_tokens AS BIGINT) AS slice_tokens,
              CASE WHEN slice_tokens <= 0 THEN 1.0
                   ELSE least(1.0, 200.0 / slice_tokens) END AS keep_frac
       FROM tot)
SELECT d.doc_id, fr.slice_tokens, ROUND(fr.keep_frac, 6) AS keep_frac
FROM documents d JOIN fr ON d.lang IS NOT DISTINCT FROM fr.lang
                        AND d.source IS NOT DISTINCT FROM fr.source
WHERE fr.keep_frac >= 1.0
   OR substr(md5('0:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
      < lower(lpad(hex(CAST(floor(fr.keep_frac * 4294967296) AS BIGINT)),
                   8, '0'))
ORDER BY d.doc_id
"""


def _q_band_bucket_stats(spark, sf):
    """LSH bucket-size distribution per band (operators/dedup.py
    band_bucket_stats): the data-driven sizing signal for the
    max_bucket cap and the banding shuffle budget — docs, buckets,
    colliding buckets, largest bucket, and the exact candidate-pair
    count the expansion stage would emit."""
    return (D.band_bucket_stats(_t(spark, sf, "documents"),
                                bands=4, rows=2)
            .orderBy("band"))


_SQL_BAND_BUCKET_STATS = f"""
WITH sk AS (
  SELECT doc_id, {_sig_sql(8)} AS sig
  FROM (SELECT doc_id, sh, {_HS_SQL} AS hs
        FROM (SELECT doc_id, {_SHINGLE_SQL} AS sh
              FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents))
        WHERE len(sh) > 0)),
banded AS (
  SELECT doc_id, t.b AS band,
         md5(array_to_string(
             list_slice(sig, t.b * 2 + 1, t.b * 2 + 2), '|')) AS band_hash
  FROM sk, range(0, 4) t(b)),
buckets AS (
  SELECT band, band_hash, COUNT(*) AS n FROM banded GROUP BY 1, 2)
SELECT CAST(band AS INTEGER) AS band,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       COUNT(*) AS n_buckets,
       CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_colliding_buckets,
       CAST(MAX(n) AS BIGINT) AS max_bucket,
       SUM(CAST(n AS DOUBLE) * (n - 1) / 2) AS candidate_pairs
FROM buckets GROUP BY band ORDER BY band
"""


def _q_hash_split(spark, sf):
    """Deterministic train/val/test carve (operators/curation.py
    hash_split): per-doc label from where md5(seed ':' doc_id)'s 32-bit
    prefix falls among the cumulative weight cutoffs — a pure function
    of the row key, so the split is stable across runs, engines,
    partitionings, and corpus growth (appending docs never moves an
    existing doc between splits, unlike randomSplit/ntile)."""
    from document_ai_spark.operators.curation import hash_split

    return (hash_split(_t(spark, sf, "documents"), seed=7)
            .select("doc_id", "split").orderBy("doc_id"))


# The same cutoff literals hash_split embeds: floor(cum_frac * 2^32)
# for the default 90/5/5 weights.
_HS_CUT1 = int(0.90 * 2 ** 32)
_HS_CUT2 = int((0.90 + 0.05) * 2 ** 32)

_SQL_HASH_SPLIT = f"""
SELECT doc_id,
       CASE WHEN u < {_HS_CUT1} THEN 'train'
            WHEN u < {_HS_CUT2} THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id,
             ('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 8))
             ::BIGINT AS u
      FROM documents)
ORDER BY doc_id
"""


def _q_chunk_manifest(spark, sf):
    """Training-reader manifest (operators/curation.py chunk_manifest):
    the inverse of pack_sequences — one row per (chunk, doc-segment)
    saying which token range of which document fills which slice of
    each fixed-length training sequence. Same two-pass prefix sum as
    pack_sequences plus a bounded per-doc chunk-range explode."""
    from document_ai_spark.operators.curation import chunk_manifest

    return (chunk_manifest(_t(spark, sf, "documents"),
                           seq_len=128, bucket_width=100)
            .orderBy("chunk_id", "chunk_pos"))


_SQL_CHUNK_MANIFEST = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
off AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start_offset
  FROM base WHERE n_tokens > 0),
seg AS (
  SELECT doc_id, start_offset, n_tokens,
         unnest(generate_series(start_offset // 128,
                                (start_offset + n_tokens - 1) // 128)) AS c
  FROM off)
SELECT c AS chunk_id, doc_id,
       greatest(start_offset - c * 128, 0) AS chunk_pos,
       greatest(c * 128 - start_offset, 0) AS doc_offset,
       least((c + 1) * 128, start_offset + n_tokens)
         - greatest(c * 128, start_offset) AS seg_len
FROM seg
ORDER BY chunk_id, chunk_pos
"""


def _q_sketch_contamination(spark, sf):
    """Fuzzy benchmark contamination (operators/curation.py
    sketch_contamination): every corpus doc MinHash-LSH-matched against
    a broadcast eval set — the paraphrase-robust complement of the exact
    n-gram blocklist. Corpus = documents + planted near-dup copies,
    evals = every 25th document, so hits include both verbatim (the
    eval doc itself, jaccard 1.0) and near-verbatim (its first-word-
    dropped copy) leakage."""
    from document_ai_spark.operators.curation import sketch_contamination

    evals = (_t(spark, sf, "documents")
             .where(F.col("doc_id") % 25 == 0).select("doc_id", "text"))
    return (sketch_contamination(_dup_docs(spark, sf), evals,
                                 jaccard_min=0.5)
            .orderBy("doc_id"))


_SQL_SKETCH_CONTAMINATION = f"""
WITH corpus AS ({_DUP_DOCS_SQL}),
evals AS (SELECT doc_id AS eval_id, text FROM documents
          WHERE doc_id % 25 = 0),
csk AS (
  SELECT doc_id,
         list_slice(list_sort(list_distinct(
             list_transform(sh, s -> md5(s)))), 1, 8) AS sketch,
         {{sig}} AS sig
  FROM (SELECT doc_id, sh, {_HS_SQL} AS hs
        FROM (SELECT doc_id, {_SHINGLE_SQL} AS sh
              FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM corpus))
        WHERE len(sh) > 0)),
esk AS (
  SELECT eval_id,
         list_slice(list_sort(list_distinct(
             list_transform(sh, s -> md5(s)))), 1, 8) AS sketch,
         {{sig}} AS sig
  FROM (SELECT eval_id, sh, {_HS_SQL} AS hs
        FROM (SELECT eval_id, {_SHINGLE_SQL} AS sh
              FROM (SELECT eval_id, {_DUCK_TOKS} AS toks FROM evals))
        WHERE len(sh) > 0)),
cb AS (
  SELECT doc_id, sketch, t.b AS band,
         md5(array_to_string(list_slice(sig, t.b*2 + 1, t.b*2 + 2), '|'))
         AS band_hash
  FROM csk, range(0, 4) t(b)),
eb AS (
  SELECT eval_id, sketch, t.b AS band,
         md5(array_to_string(list_slice(sig, t.b*2 + 1, t.b*2 + 2), '|'))
         AS band_hash
  FROM esk, range(0, 4) t(b)),
cand AS (
  SELECT c.doc_id, e.eval_id,
         any_value(c.sketch) AS sk_a, any_value(e.sketch) AS sk_b
  FROM cb c JOIN eb e ON c.band = e.band AND c.band_hash = e.band_hash
  GROUP BY 1, 2),
hits AS (
  SELECT doc_id, eval_id,
         ROUND(len(list_intersect(sk_a, sk_b))
               / len(list_distinct(sk_a || sk_b)), 6) AS j
  FROM cand
  WHERE len(list_intersect(sk_a, sk_b))
        / len(list_distinct(sk_a || sk_b)) >= 0.5)
SELECT doc_id, CAST(COUNT(DISTINCT eval_id) AS BIGINT) AS n_evals_hit,
       MAX(j) AS max_jaccard
FROM hits GROUP BY doc_id ORDER BY doc_id
""".replace("{sig}", _SIG_SQL)


_URL_DEDUP_PLANT = (
    "concat("
    " CASE WHEN doc_id % 4 = 0 THEN 'HTTP://'"
    "      WHEN doc_id % 4 = 1 THEN 'http://'"
    "      WHEN doc_id % 4 = 2 THEN 'https://' ELSE 'HTTPS://' END,"
    " CASE WHEN doc_id % 3 = 0 THEN 'WWW.'"
    "      WHEN doc_id % 3 = 1 THEN 'www.' ELSE '' END,"
    " 'Ex', cast(doc_id % 20 as string), '.COM',"
    " CASE WHEN doc_id % 5 = 0 THEN"
    "      CASE WHEN doc_id % 4 <= 1 THEN ':80' ELSE ':443' END"
    "      ELSE '' END,"
    " '/Path/', cast(doc_id % 40 as string),"
    " CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,"
    " CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&id=7'"
    "      WHEN doc_id % 3 = 1 THEN '?id=7&utm_campaign=y'"
    "      ELSE '?id=7' END,"
    " CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END)"
)


def _q_url_dedup(spark, sf):
    """C4 page-identity dedup (operators/web.py url_dedup): messy
    planted URLs (mixed-case scheme/host, www., default ports, utm
    params, fragments, trailing slashes) canonicalize to one keeper per
    page; keep_doc_id is the min doc_id sharing the canonical URL."""
    from document_ai_spark.operators.web import url_dedup

    d = _t(spark, sf, "documents").select(
        "doc_id", F.expr(_URL_DEDUP_PLANT).alias("url"))
    return (url_dedup(d).select("doc_id", "canon_url", "keep_doc_id")
            .orderBy("doc_id"))


def _sql_url_dedup():
    from document_ai_spark.operators.web import (
        HOST_RE, REST_RE, SCHEME_RE, TRACKING_RE)
    return f"""
WITH u0 AS (SELECT doc_id, {_URL_DEDUP_PLANT} AS url FROM documents),
u1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM u0),
parts AS (
  SELECT doc_id,
         lower(regexp_extract(u, '{SCHEME_RE}', 1)) AS scheme,
         regexp_replace(lower(regexp_extract(u, '{HOST_RE}', 1)),
                        '^www\\.', '') AS host0,
         regexp_extract(u, '{REST_RE}', 1) AS rest
  FROM u1),
parts2 AS (
  SELECT doc_id, scheme,
         CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
              WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
              ELSE host0 END AS host,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(
                 rest, '{TRACKING_RE}', '', 'g'),
             '&&+', '&', 'g'), '\\?&', '?', 'g'),
             '[?&]$', ''), '/\\?', '?', 'g'), '/$', '') AS q
  FROM parts),
canon AS (
  SELECT doc_id,
         CASE WHEN scheme <> '' AND host <> ''
              THEN concat(scheme, '://', host, q) END AS canon_url
  FROM parts2)
SELECT doc_id, canon_url,
       CASE WHEN canon_url IS NULL THEN doc_id
            ELSE MIN(doc_id) OVER (PARTITION BY canon_url) END AS keep_doc_id
FROM canon ORDER BY doc_id
"""


def _q_incremental_embed_near_dup(spark, sf):
    """k-batch INCREMENTAL embedding near-dup via the persisted banded
    sign-LSH index (operators/vector_index.py EmbeddingIndex): the
    oracle is the corpus-wide embedding_near_dups recompute, so a green
    row proves incremental == batch (sign buckets are a pure per-vector
    function — no corpus dependence)."""
    import shutil
    import tempfile

    from document_ai_spark.operators.vector_index import EmbeddingIndex

    emb = _t(spark, sf, "embeddings")
    dup = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda v: v * F.lit(2.0).cast("float"))
         .alias("embedding"),
        F.col("label"))
    both = emb.unionByName(dup)
    root = tempfile.mkdtemp(prefix="emb_idx_")
    try:
        idx = EmbeddingIndex(root)
        parts = [both.where(
            F.pmod(F.xxhash64(F.col("vec_id").cast("string")),
                   F.lit(3)) == i) for i in range(3)]
        out = None
        for i, b in enumerate(parts):
            p = idx.append_and_find(spark, b, batch_id=f"b{i}",
                                    cos_min=0.999)
            out = p if out is None else out.unionByName(p)
    finally:
        # append_and_find localCheckpoints eagerly; no residue left.
        shutil.rmtree(root, ignore_errors=True)
    return out.orderBy("id_a", "id_b")


def _q_embed_ivf_persisted(spark, sf):
    """IVF top-k against a PERSISTED codebook (operators/vector_index.py
    CodebookIndex): train once, commit, reload from parquet, query. The
    oracle is the retrain-in-line IVF SQL — a green row proves the
    committed codebook round-trips bit-exactly (6-decimal rounding) and
    reuse == retrain."""
    import shutil
    import tempfile

    from document_ai_spark.operators.vector_index import CodebookIndex

    emb = _t(spark, sf, "embeddings")
    root = tempfile.mkdtemp(prefix="codebook_")
    try:
        cb = CodebookIndex(root)
        cb.ensure(spark, emb)
        # Fresh handle: force the load-from-disk path, not the trainer.
        cents = CodebookIndex(root).centroids(spark)
        out = S.ivf_topk(emb, probe_ids=[0, 1, 2], k=5,
                         codebook=cents).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def _q_repetition_stats(spark, sf):
    """Gopher-style per-doc repetition filters (operators/textquality.py
    repetition_stats): dup-line fraction, top-bigram token fraction,
    symbol-to-word ratio — computed relationally (explode + two grouped
    counts), never a per-row distinct-count loop."""
    from document_ai_spark.operators.textquality import repetition_stats

    return repetition_stats(fan_out(_t(spark, sf, "documents"))).orderBy("doc_id")


_SQL_REPETITION = f"""
WITH toks AS (
  SELECT doc_id, text, {_DUCK_TOKS} AS t
  FROM documents),
base AS (
  SELECT doc_id, len(t) AS n_tokens,
         len(regexp_extract_all(text,
             '[^{ALPHA_RANGES}0-9{WS_RANGES}{CJK_RANGES}]')) AS n_symbols
  FROM toks),
lines AS (
  SELECT doc_id, {_dtrim('l')} AS line
  FROM (SELECT doc_id, unnest(str_split(text, chr(10))) AS l
        FROM documents)
  WHERE {_dtrim('l')} <> ''),
line_stats AS (
  SELECT doc_id, SUM(c) AS n_lines,
         SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_lines
  FROM (SELECT doc_id, line, COUNT(*) AS c FROM lines GROUP BY 1, 2)
  GROUP BY doc_id),
bigrams AS (
  SELECT doc_id, unnest(list_transform(
      generate_series(1, greatest(len(t) - 1, 1)),
      i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS bigram
  FROM toks),
bigram_stats AS (
  SELECT doc_id, MAX(c) AS top_bigram_count
  FROM (SELECT doc_id, bigram, COUNT(*) AS c FROM bigrams GROUP BY 1, 2)
  GROUP BY doc_id)
SELECT b.doc_id,
       CAST(b.n_tokens AS BIGINT) AS n_tokens,
       ROUND(COALESCE(ls.dup_lines, 0) / COALESCE(ls.n_lines, 1), 6)
         AS dup_line_frac,
       ROUND(CASE WHEN b.n_tokens >= 2
                  THEN bs.top_bigram_count * 2.0 / b.n_tokens
                  ELSE 0.0 END, 6) AS top_bigram_frac,
       ROUND(b.n_symbols / greatest(b.n_tokens, 1), 6) AS symbol_word_ratio
FROM base b
LEFT JOIN line_stats ls USING (doc_id)
LEFT JOIN bigram_stats bs USING (doc_id)
ORDER BY doc_id
"""


def _q_contamination(spark, sf):
    """Benchmark decontamination (operators/curation.py contamination):
    eval set = every 97th doc_id, blocklist = its distinct word 3-grams
    (broadcast), corpus = the rest; returns per-doc distinct-hit counts."""
    from document_ai_spark.operators.curation import contamination, eval_ngrams

    d = _t(spark, sf, "documents")
    corpus = d.where(F.col("doc_id") % 97 != 0)
    evals = d.where(F.col("doc_id") % 97 == 0)
    return (contamination(corpus, eval_ngrams(evals, n=3), n=3)
            .orderBy("doc_id"))


_SQL_CONTAMINATION = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
grams AS (
  SELECT doc_id, unnest(list_transform(
      generate_series(1, greatest(len(t) - 2, 1)),
      i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS ngram
  FROM toks),
block AS (SELECT DISTINCT ngram FROM grams WHERE doc_id % 97 = 0)
SELECT g.doc_id, COUNT(DISTINCT g.ngram) AS n_hits
FROM grams g JOIN block USING (ngram)
WHERE g.doc_id % 97 <> 0
GROUP BY g.doc_id
ORDER BY g.doc_id
"""


def _q_explanation_summary(spark, sf):
    """Reference provide_explanation's document-level narrative (reference
    backend/services/agentic_ai.py:328-389) over the events table's
    deterministic confidence surrogate (value/200, as case_bucket):
    per user_id, the summary sentence, and the manual-review
    recommendation listing low-confidence fields (sorted; the reference
    iterates dict order, which is presentation, not semantics)."""
    e = _t(spark, sf, "events")
    conf = F.col("value") / 200.0
    g = (e.groupBy("user_id").agg(
        F.count("*").alias("n_fields"),
        F.sum(F.when(conf >= 0.8, 1).otherwise(0)).alias("n_high"),
        F.round(F.avg(conf) * 100).cast("int").alias("overall_pct"),
        F.array_join(
            F.array_sort(F.collect_set(
                F.when(conf < 0.7, F.col("event_type")))),
            ", ").alias("low_fields")))
    summary = F.concat(
        F.lit("Extracted "), F.col("n_high").cast("string"),
        F.lit("/"), F.col("n_fields").cast("string"),
        F.lit(" fields with high confidence. Overall confidence: "),
        F.col("overall_pct").cast("string"), F.lit("%"))
    rec = F.when(
        F.col("low_fields") != "",
        F.concat(F.lit("Manual review recommended for: "),
                 F.col("low_fields")))
    return (g.select("user_id", summary.alias("summary"),
                     rec.alias("recommendation"))
            .orderBy("user_id"))


_SQL_EXPLANATION_SUMMARY = """
WITH g AS (
  SELECT user_id,
         COUNT(*) AS n_fields,
         SUM(CASE WHEN value/200.0 >= 0.8 THEN 1 ELSE 0 END) AS n_high,
         CAST(ROUND(AVG(value/200.0) * 100) AS INT) AS overall_pct,
         array_to_string(list_sort(list(DISTINCT event_type)
             FILTER (WHERE value/200.0 < 0.7)), ', ') AS low_fields
  FROM events GROUP BY user_id)
SELECT user_id,
       'Extracted ' || n_high || '/' || n_fields ||
       ' fields with high confidence. Overall confidence: ' ||
       overall_pct || '%' AS summary,
       CASE WHEN low_fields <> ''
            THEN 'Manual review recommended for: ' || low_fields
       END AS recommendation
FROM g ORDER BY user_id
"""


def _q_field_reasoning(spark, sf):
    """Reference per-field explanation rows (agentic_ai.py:348-364):
    reasoning sentence + confidence level (thresholds = the conf_bucket
    surface, agentic_ai.py:391-402) per event-as-field."""
    e = _t(spark, sf, "events")
    conf = F.col("value") / 200.0
    reasoning = F.when(
        F.col("value").isNull(), F.lit("Could not extract this field")
    ).otherwise(F.concat(
        F.lit("Extracted using "), F.col("event_type"),
        F.lit(" method with "),
        F.round(conf * 100).cast("int").cast("string"),
        F.lit("% confidence")))
    level = F.when(F.col("value").isNull(), F.lit("none")) \
        .otherwise(X.conf_bucket_col(conf))
    return (e.select("event_id", reasoning.alias("reasoning"),
                     level.alias("confidence_level"))
            .orderBy("event_id"))


_SQL_FIELD_REASONING = """
SELECT event_id,
       CASE WHEN value IS NULL THEN 'Could not extract this field'
            ELSE 'Extracted using ' || event_type || ' method with ' ||
                 CAST(ROUND(value/200.0 * 100) AS INT) || '% confidence'
       END AS reasoning,
       CASE WHEN value IS NULL THEN 'none'
            WHEN value/200.0 >= 0.9 THEN 'very_high'
            WHEN value/200.0 >= 0.8 THEN 'high'
            WHEN value/200.0 >= 0.6 THEN 'medium'
            WHEN value/200.0 >= 0.4 THEN 'low'
            ELSE 'very_low' END AS confidence_level
FROM events ORDER BY event_id
"""


def _q_stratified_sample(spark, sf):
    """Deterministic md5-prefix sampling (operators/curation.py
    deterministic_sample) audited per stratum: total vs sampled counts
    and the realized rate per (lang, source)."""
    from document_ai_spark.operators.curation import deterministic_sample

    d = _t(spark, sf, "documents")
    s = (deterministic_sample(d, fraction=0.25)
         .groupBy("lang", "source").agg(F.count("*").alias("n_sampled")))
    t = d.groupBy("lang", "source").agg(F.count("*").alias("n_total"))
    return (t.join(s, ["lang", "source"], "left")
            .select("lang", "source", "n_total",
                    F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
                    F.round(F.coalesce("n_sampled", F.lit(0))
                            / F.col("n_total"), 6).alias("rate"))
            .orderBy("lang", "source"))


_SQL_STRATIFIED_SAMPLE = """
WITH s AS (
  SELECT lang, source, COUNT(*) AS n_sampled
  FROM documents
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
  GROUP BY lang, source),
t AS (
  SELECT lang, source, COUNT(*) AS n_total
  FROM documents GROUP BY lang, source)
SELECT t.lang, t.source, t.n_total,
       COALESCE(s.n_sampled, 0) AS n_sampled,
       ROUND(COALESCE(s.n_sampled, 0) / CAST(t.n_total AS DOUBLE), 6)
         AS rate
FROM t LEFT JOIN s ON t.lang = s.lang AND t.source = s.source
ORDER BY t.lang, t.source
"""


def _q_unigram_logprob(spark, sf):
    """Unigram-LM quality score (operators/textquality.py
    with_unigram_logprob): mean ln P(word) under the corpus's own
    add-one-smoothed unigram model — the cheap perplexity-proxy filter."""
    from document_ai_spark.operators.textquality import with_unigram_logprob

    return (with_unigram_logprob(fan_out(_t(spark, sf, "documents")))
            .orderBy("doc_id"))


_SQL_UNIGRAM_LOGPROB = f"""
WITH words AS (
  SELECT doc_id, lower(w) AS word
  FROM (SELECT doc_id,
               unnest({_DUCK_TOKS}) AS w
        FROM documents)
  WHERE w <> ''),
freqs AS (SELECT word, COUNT(*) AS wc FROM words GROUP BY word),
tot AS (SELECT CAST(SUM(wc) AS DOUBLE) AS n_tok,
               CAST(COUNT(*) AS DOUBLE) AS vocab FROM freqs)
SELECT doc_id,
       ROUND(AVG(ln((wc + 1) / (n_tok + vocab))), 6) AS unigram_logprob,
       COUNT(*) AS n_scored_tokens
FROM words JOIN freqs USING (word), tot
GROUP BY doc_id ORDER BY doc_id
"""


def _q_nb_quality(spark, sf):
    """Model-based quality/domain classifier (operators/classifier.py):
    multinomial Naive Bayes over the script-aware tokenizer, trained
    relationally on the corpus itself with label = (lang = 'en') — the
    CCNet/fastText "reference-corpus classifier" step. One vocab-width
    count shuffle to train, one word-key join + per-doc sum to score."""
    from document_ai_spark.operators.classifier import nb_quality

    return (nb_quality(fan_out(_t(spark, sf, "documents")),
                       F.col("lang") == "en")
            .orderBy("doc_id"))


_SQL_NB_QUALITY = f"""
WITH words AS (
  SELECT doc_id, lower(w) AS word
  FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS w FROM documents)
  WHERE w <> ''),
labels AS (SELECT doc_id, (lang = 'en') AS label FROM documents),
lw AS (SELECT words.doc_id, word, label
       FROM words JOIN labels USING (doc_id)),
counts AS (SELECT word,
                  SUM(CASE WHEN label THEN 1 ELSE 0 END) AS c_pos,
                  SUM(CASE WHEN label THEN 0 ELSE 1 END) AS c_neg
           FROM lw GROUP BY word),
tot AS (SELECT CAST(SUM(c_pos) AS DOUBLE) AS n_pos,
               CAST(SUM(c_neg) AS DOUBLE) AS n_neg,
               CAST(COUNT(*) AS DOUBLE) AS vocab FROM counts),
model AS (SELECT word,
                 ln((c_pos + 1) / (n_pos + vocab))
                 - ln((c_neg + 1) / (n_neg + vocab)) AS delta
          FROM counts, tot),
prior AS (SELECT ln(CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) + 1
                         AS DOUBLE)
                    / (SUM(CASE WHEN label THEN 0 ELSE 1 END) + 1)) AS p
          FROM labels)
SELECT doc_id,
       ROUND(SUM(delta) + p, 4) AS nb_logodds,
       (ROUND(SUM(delta) + p, 4) > 0) AS nb_pred,
       COUNT(*) AS n_scored_tokens
FROM words JOIN model USING (word), prior
GROUP BY doc_id, p ORDER BY doc_id
"""


def _q_canonical_docs(spark, sf):
    """Best-copy-per-cluster dedup policy (operators/curation.py
    canonical_docs): near-dup clusters from banded LSH + star CC, then
    keep the highest-quality member (ties -> lowest doc_id) instead of
    an arbitrary representative."""
    from document_ai_spark.operators.curation import canonical_docs

    return canonical_docs(_dup_docs(spark, sf)).orderBy("doc_id")


_SQL_CANONICAL_DOCS = f"""
WITH RECURSIVE
{_BANDED_PAIRS_CTE},
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
reach AS (
  SELECT DISTINCT u AS doc_id, u AS r FROM edges
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.doc_id = e.v),
clusters AS (SELECT doc_id, MIN(r) AS cluster FROM reach GROUP BY doc_id),
q AS (
  SELECT doc_id,
         ROUND((CASE WHEN n < 10 THEN n/10.0 WHEN n > 1000 THEN 0.5
                     ELSE 1.0 END) * 0.6
               + (CASE WHEN sr BETWEEN 0.05 AND 0.6 THEN 1.0
                       ELSE 0.5 END) * 0.4, 6) AS quality_score
  FROM (SELECT doc_id, len(toks) AS n,
               ROUND(len(list_filter(toks,
                   w -> list_contains({_STOP_SQL}, lower(w))))
                     / greatest(len(toks), 1), 6) AS sr
        FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM base)))
SELECT c.doc_id, c.cluster, q.quality_score,
       (ROW_NUMBER() OVER (PARTITION BY c.cluster
                           ORDER BY q.quality_score DESC, c.doc_id)
        = 1) AS keep
FROM clusters c JOIN q USING (doc_id)
ORDER BY c.doc_id
"""


def _q_intra_doc_line_dedup(spark, sf):
    """Within-document repeated-line removal (operators/curation.py
    strip_repeated_lines) — the corpus has single-line docs, so the
    query plants a deterministic multi-line layout (text, text, blank,
    40-char prefix, text) per doc: both dup copies of the full text are
    stripped, the blank and the prefix line survive."""
    from document_ai_spark.operators.curation import strip_repeated_lines

    d = fan_out(_t(spark, sf, "documents")).select(
        "doc_id",
        F.expr("concat(text, '\\n', text, '\\n\\n', "
               "substring(text, 1, 40), '\\n', text)").alias("text"))
    return strip_repeated_lines(d).orderBy("doc_id")


_SQL_INTRA_DOC_LINE_DEDUP = """
WITH planted AS (
  SELECT doc_id,
         text || chr(10) || text || chr(10) || chr(10)
              || substring(text, 1, 40) || chr(10) || text AS text
  FROM documents),
split AS (SELECT doc_id,
                 str_split(coalesce(text, ''), chr(10)) AS ls
          FROM planted)
SELECT doc_id,
       array_to_string(kept, chr(10)) AS text_dedup,
       n AS n_lines,
       n - len(kept) AS n_removed
FROM (SELECT doc_id,
             list_filter(ls, (l, i) -> regexp_replace(l, '^[ \\x{0009}-\\x{000D}\\x{3000}]+|[ \\x{0009}-\\x{000D}\\x{3000}]+$', '', 'g') = ''
                             OR list_position(ls, l) = i) AS kept,
             len(ls) AS n
      FROM split)
ORDER BY doc_id
"""


def _q_gopher_rules(spark, sf):
    """Gopher quality-rule flags (operators/selection.py gopher_rules):
    the published Rae et al. 2021 App. A rule set — word count, mean
    word length, symbol/bullet/ellipsis ratios, alpha-word fraction,
    required-stopword presence — each as a boolean plus the combined
    gopher_keep, in ONE corpus scan (two single-eval structs)."""
    from document_ai_spark.operators.selection import gopher_rules

    # Sort-first (see _docs_sorted): gopher_rules is a zero-exchange
    # per-row projection, so computing it ABOVE the range exchange
    # parallelizes it and skips the sampling re-execution; ordering is
    # preserved through the projection.
    return gopher_rules(_t(spark, sf, "documents").orderBy("doc_id"))


_SQL_GOPHER_RULES = f"""
WITH tk AS (
  SELECT doc_id, text, {_DUCK_TOKS} AS t FROM documents),
m AS (
  SELECT doc_id,
    len(t) AS n_words,
    ROUND(COALESCE(list_sum(list_transform(t, w -> length(w))), 0)
          / GREATEST(len(t), 1)::DOUBLE, 6) AS mean_word_len,
    ROUND(((length(text) - length(replace(text, '#', '')))
           + (length(text) - length(replace(text, '...', ''))) // 3)
          / GREATEST(len(t), 1)::DOUBLE, 6) AS symbol_ratio,
    ROUND(len(list_filter(str_split(text, chr(10)),
                          l -> regexp_matches({_dtrim('l')},
                                              '^[-*\\x{{2022}}]')))
          / GREATEST(len(str_split(text, chr(10))), 1)::DOUBLE, 6)
      AS bullet_frac,
    ROUND(len(list_filter(str_split(text, chr(10)),
                          l -> regexp_matches(l,
                                   '(\\.\\.\\.|\\x{{2026}}) *$')))
          / GREATEST(len(str_split(text, chr(10))), 1)::DOUBLE, 6)
      AS ellipsis_frac,
    ROUND(len(list_filter(t, w -> regexp_matches(w, '[{ALPHA_RANGES}]')))
          / GREATEST(len(t), 1)::DOUBLE, 6) AS alpha_frac,
    len(list_intersect(list_transform(t, w -> lower(w)),
        ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']))
      AS stop_hits
  FROM tk)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
       ellipsis_frac, alpha_frac, stop_hits,
       (n_words BETWEEN 50 AND 100000) AS ok_words,
       (mean_word_len BETWEEN 3.0 AND 10.0) AS ok_mwl,
       (symbol_ratio <= 0.1) AS ok_symbols,
       (bullet_frac <= 0.9) AS ok_bullets,
       (ellipsis_frac <= 0.3) AS ok_ellipsis,
       (alpha_frac >= 0.8) AS ok_alpha,
       (stop_hits >= 2) AS ok_stops,
       ((n_words BETWEEN 50 AND 100000)
        AND (mean_word_len BETWEEN 3.0 AND 10.0)
        AND (symbol_ratio <= 0.1) AND (bullet_frac <= 0.9)
        AND (ellipsis_frac <= 0.3) AND (alpha_frac >= 0.8)
        AND (stop_hits >= 2)) AS gopher_keep
FROM m ORDER BY doc_id
"""


def _q_perplexity_buckets(spark, sf):
    """CCNet head/middle/tail perplexity buckets (operators/selection.py
    perplexity_buckets): per-lang thirds of the unigram-LM score,
    thresholds from exact percentiles (quantile_cont parity)."""
    from document_ai_spark.operators.selection import perplexity_buckets

    return perplexity_buckets(fan_out(_t(spark, sf, "documents"))).orderBy("doc_id")


_SQL_PERPLEXITY_BUCKETS = f"""
WITH words AS (
  SELECT doc_id, lower(w) AS word
  FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS w FROM documents)
  WHERE w <> ''),
freqs AS (SELECT word, COUNT(*) AS wc FROM words GROUP BY word),
tot AS (SELECT CAST(SUM(wc) AS DOUBLE) AS n_tok,
               CAST(COUNT(*) AS DOUBLE) AS vocab FROM freqs),
lp AS (SELECT doc_id,
              ROUND(AVG(ln((wc + 1) / (n_tok + vocab))), 6)
                AS unigram_logprob
       FROM words JOIN freqs USING (word), tot GROUP BY doc_id),
scored AS (SELECT d.doc_id, d.lang, lp.unigram_logprob
           FROM documents d JOIN lp ON d.doc_id = lp.doc_id),
th AS (SELECT lang,
              ROUND(quantile_cont(unigram_logprob,
                                  {1.0 / 3.0!r}), 4) AS t_mid,
              ROUND(quantile_cont(unigram_logprob,
                                  {2.0 / 3.0!r}), 4) AS t_head
       FROM scored GROUP BY lang)
SELECT s.doc_id, s.lang, s.unigram_logprob,
       CASE WHEN s.unigram_logprob >= th.t_head THEN 'head'
            WHEN s.unigram_logprob >= th.t_mid THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM scored s JOIN th USING (lang) ORDER BY s.doc_id
"""


# Shared CTE prefix for the DSIR oracles: hashed unigram+bigram bucket
# stream, bucket distributions (target = lang 'en' vs raw = all), and
# the add-one-smoothed log-ratio table (the Spark side's broadcast).
_DSIR_CTES = f"""
tk AS (SELECT doc_id, (lang = 'en') AS is_t,
              list_transform({_DUCK_TOKS}, w -> lower(w)) AS t
       FROM documents),
feats AS (
  SELECT doc_id, is_t,
         unnest(list_concat(t,
           list_transform(t[1:len(t) - 1],
                          (w, i) -> w || ' ' || t[i + 1]))) AS feat
  FROM tk),
b AS (SELECT doc_id, is_t,
             ('0x' || substr(md5(feat), 1, 7))::BIGINT % 1024 AS bucket
      FROM feats),
bc AS (SELECT bucket,
              SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS c_t,
              COUNT(*) AS c_r
       FROM b GROUP BY bucket),
tot AS (SELECT CAST(SUM(c_t) AS DOUBLE) AS t_tot,
               CAST(SUM(c_r) AS DOUBLE) AS r_tot FROM bc),
ratio AS (SELECT bucket,
                 ln((c_t + 1) / (t_tot + 1024))
                 - ln((c_r + 1) / (r_tot + 1024)) AS lr
          FROM bc, tot),
w AS (SELECT doc_id, COUNT(*) AS n_features,
             ROUND(SUM(lr), 4) AS dsir_logw
      FROM b JOIN ratio USING (bucket) GROUP BY doc_id)
"""


def _q_dsir_weights(spark, sf):
    """DSIR importance log-weights (operators/selection.py
    dsir_logweights): hashed unigram+bigram bucket distributions,
    target = lang 'en' vs the raw corpus; log w = sum of smoothed
    bucket log-ratios (Xie et al. 2023)."""
    from document_ai_spark.operators.selection import dsir_logweights

    return dsir_logweights(fan_out(_t(spark, sf, "documents"))).orderBy("doc_id")


_SQL_DSIR_WEIGHTS = f"""
WITH {_DSIR_CTES}
SELECT doc_id, n_features, dsir_logw FROM w ORDER BY doc_id
"""


def _q_dsir_sample(spark, sf):
    """DSIR Gumbel-top-k resample (operators/selection.py dsir_sample):
    k=25 docs sampled without replacement proportional to the
    importance weight via md5-seeded Gumbel perturbation — fully
    deterministic and engine-independent."""
    from document_ai_spark.operators.selection import dsir_sample

    return dsir_sample(fan_out(_t(spark, sf, "documents")), k=25)


_SQL_DSIR_SAMPLE = f"""
WITH {_DSIR_CTES}
SELECT doc_id, n_features, dsir_logw,
       ROUND(dsir_logw
             + (-ln(-ln((('0x' || substr(md5('0:'
                          || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                         + 1) / 4294967297.0))), 4) AS gumbel_key
FROM w ORDER BY gumbel_key DESC, doc_id LIMIT 25
"""


def _q_ngram_repetition(spark, sf):
    """Gopher Table A1 n-gram repetition rules (operators/textquality.py
    ngram_repetition): top-{2,3,4}-gram and duplicate-{5..10}-gram
    character fractions + the combined rep_keep at the published
    thresholds. All nine n values ride one explode."""
    from document_ai_spark.operators.textquality import ngram_repetition

    return ngram_repetition(fan_out(_t(spark, sf, "documents"))).orderBy("doc_id")


def _sql_ngram_repetition() -> str:
    ns_top, ns_dup = (2, 3, 4), (5, 6, 7, 8, 9, 10)
    top_max = {2: 0.20, 3: 0.18, 4: 0.16}
    dup_max = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
    gram_lists = ", ".join(
        f"CASE WHEN len(t) >= {n} THEN "
        f"list_transform(t[1:len(t) - {n - 1}], (w, i) -> "
        f"struct_pack(n := {n}, "
        f"g := array_to_string(t[i:i + {n - 1}], ' '))) "
        f"ELSE [] END" for n in sorted(set(ns_top) | set(ns_dup)))
    top_cols = ", ".join(
        f"ROUND(COALESCE(MAX(CASE WHEN n = {n} AND top.c >= 2 THEN "
        f"top.c * top.ch / tc END), 0.0), 6) AS top{n}_char_frac"
        for n in ns_top)
    dup_cols = ", ".join(
        f"ROUND(COALESCE(MAX(CASE WHEN n = {n} THEN "
        f"dup / occ END), 0.0), 6) AS dup{n}_char_frac" for n in ns_dup)
    keep = " AND ".join(
        [f"top{n}_char_frac <= {top_max[n]}" for n in ns_top]
        + [f"dup{n}_char_frac <= {dup_max[n]}" for n in ns_dup])
    return f"""
WITH base AS (
  SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
grams AS (
  SELECT doc_id,
         CAST(COALESCE(list_sum(list_transform(t, w -> length(w))), 0)
              AS DOUBLE) AS tc,
         unnest(flatten([{gram_lists}])) AS s
  FROM base),
cnt AS (
  SELECT doc_id, tc, n, g, length(g) - (n - 1) AS ch, c
  FROM (SELECT doc_id, tc, s.n AS n, s.g AS g, COUNT(*) AS c
        FROM grams GROUP BY ALL)),
per_n AS (
  SELECT doc_id, tc, n,
         CAST(SUM(c * ch) AS DOUBLE) AS occ,
         CAST(SUM(CASE WHEN c >= 2 THEN c * ch ELSE 0 END) AS DOUBLE)
           AS dup,
         MAX(struct_pack(c := c, ch := ch)) AS top
  FROM cnt GROUP BY doc_id, tc, n),
fr AS (
  SELECT doc_id, {top_cols}, {dup_cols}
  FROM per_n GROUP BY doc_id)
SELECT *, ({keep}) AS rep_keep FROM fr ORDER BY doc_id
"""


def _q_c4_clean(spark, sf):
    """C4 line/page cleaning rules (operators/web.py c4_clean, Raffel
    et al. 2020 §2.2): terminal-punctuation + min-words line filter,
    javascript/policy-phrase line drops, brace/lorem-ipsum/min-kept
    page verdict. Map-side only — zero exchanges."""
    from document_ai_spark.operators.web import c4_clean

    # Sort-first: zero-exchange per-row op (see gopher_rules note).
    return c4_clean(_t(spark, sf, "documents").orderBy("doc_id"))


def _sql_c4_clean() -> str:
    from document_ai_spark.operators.web import (
        C4_MIN_KEPT_LINES,
        C4_MIN_LINE_WORDS,
        C4_POLICY_PHRASES,
    )
    t = _dtrim("l")
    policy = " AND ".join(
        f"NOT contains(lower({t}), '{p}')" for p in C4_POLICY_PHRASES)
    return f"""
WITH staged AS (
  SELECT doc_id, text, str_split(text, chr(10)) AS ls FROM documents),
k AS (
  SELECT doc_id, text, ls,
         list_filter(ls, l ->
           regexp_matches({t}, '[.!?\\x{{22}}]$')
           AND len(list_filter(
                 regexp_split_to_array({t},
                   '[ \\x{{0009}}-\\x{{000D}}\\x{{3000}}]+'),
                 x -> x <> '')) >= {C4_MIN_LINE_WORDS}
           AND NOT regexp_matches(lower({t}),
                 '(^|[^a-z])javascript([^a-z]|$)')
           AND {policy}) AS kept
  FROM staged)
SELECT doc_id,
       COALESCE(array_to_string(kept, chr(10)), '') AS text_clean,
       len(ls) AS n_lines,
       len(kept) AS n_kept_lines,
       contains(text, '{{') AS has_brace,
       contains(lower(text), 'lorem ipsum') AS has_lorem,
       (len(kept) >= {C4_MIN_KEPT_LINES}
        AND NOT contains(text, '{{')
        AND NOT contains(lower(text), 'lorem ipsum')) AS c4_keep
FROM k ORDER BY doc_id
"""


def _q_fineweb_filters(spark, sf):
    """FineWeb custom quality filters (operators/web.py
    fineweb_filters, Penedo et al. 2024 §3.4): punct-ending line
    ratio, short-line ratio, duplicated-line char fraction, newline/
    word ratio, and the combined keep verdict. One scan, two hash
    aggs shuffling (doc_id, md5(line)) keys + small ints only."""
    from document_ai_spark.operators.web import fineweb_filters

    return fineweb_filters(fan_out(_t(spark, sf, "documents"))).orderBy("doc_id")


def _sql_fineweb_filters() -> str:
    from document_ai_spark.operators.web import (
        FW_DUP_CHAR_MAX,
        FW_LINE_PUNCT_MIN,
        FW_NEWLINE_WORD_MAX,
        FW_SHORT_LINE_LEN,
        FW_SHORT_LINE_MAX,
    )
    t = _dtrim("l")
    return f"""
WITH per_line AS (
  SELECT doc_id, md5(l) AS lk, len(l) AS chars,
         regexp_matches(l, '[.\\x{{27}}\\x{{22}}!?]$') AS punct,
         len(l) <= {FW_SHORT_LINE_LEN} AS short,
         {t} <> '' AS nonempty,
         len(list_filter(regexp_split_to_array(l, '[{WS_RANGES}]+'),
             x -> x <> '')) AS words
  FROM (SELECT doc_id, unnest(str_split(text, chr(10))) AS l
        FROM documents)),
g AS (
  SELECT doc_id, lk, COUNT(*) AS cnt, first(chars) AS chars,
         first(punct) AS punct, first(short) AS short,
         first(nonempty) AS nonempty, first(words) AS words
  FROM per_line GROUP BY 1, 2),
a AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_lines,
         CAST(SUM(cnt * words) AS BIGINT) AS n_words,
         CAST(SUM(cnt * chars) AS BIGINT) AS tot_chars,
         CAST(SUM(CASE WHEN punct THEN cnt ELSE 0 END) AS BIGINT)
           AS punct_lines,
         CAST(SUM(CASE WHEN short THEN cnt ELSE 0 END) AS BIGINT)
           AS short_lines,
         CAST(SUM(CASE WHEN nonempty THEN (cnt - 1) * chars ELSE 0 END)
              AS BIGINT) AS dup_chars
  FROM g GROUP BY doc_id),
r AS (
  SELECT doc_id, n_lines, n_words,
         ROUND(punct_lines / n_lines, 6) AS line_punct_ratio,
         ROUND(short_lines / n_lines, 6) AS short_line_frac,
         ROUND(CASE WHEN tot_chars > 0 THEN dup_chars / tot_chars
                    ELSE 0.0 END, 6) AS dup_line_char_frac,
         ROUND(CASE WHEN n_words > 0 THEN (n_lines - 1) / n_words
                    ELSE 0.0 END, 6) AS newline_word_ratio
  FROM a)
SELECT doc_id, n_lines, n_words, line_punct_ratio, short_line_frac,
       dup_line_char_frac, newline_word_ratio,
       (line_punct_ratio >= {FW_LINE_PUNCT_MIN}
        AND short_line_frac <= {FW_SHORT_LINE_MAX}
        AND dup_line_char_frac <= {FW_DUP_CHAR_MAX}
        AND newline_word_ratio <= {FW_NEWLINE_WORD_MAX}) AS fineweb_keep
FROM r ORDER BY doc_id
"""


def _q_refinedweb_lines(spark, sf):
    """RefinedWeb line-wise corrections (operators/web.py
    refinedweb_lines, Penedo et al. 2023 App. G.2): drop
    mainly-uppercase / numeric-only / counter / single-word lines,
    drop the doc when >5% of chars were removed. Map-side only."""
    from document_ai_spark.operators.web import refinedweb_lines

    # Sort-first: zero-exchange per-row op (see gopher_rules note).
    return refinedweb_lines(_t(spark, sf, "documents").orderBy("doc_id"))


def _sql_refinedweb_lines() -> str:
    from document_ai_spark.operators.web import (
        RW_COUNTER_RE,
        RW_MAX_REMOVED_FRAC,
    )
    t = _dtrim("l")
    drop = (f"(len(regexp_replace({t}, '[^A-Za-z]', '', 'g')) > 0"
            f" AND 2 * len(regexp_replace({t}, '[^A-Z]', '', 'g'))"
            f" > len(regexp_replace({t}, '[^A-Za-z]', '', 'g')))"
            f" OR regexp_matches({t}, '^[0-9]+$')"
            f" OR regexp_matches(lower({t}), '{RW_COUNTER_RE}')"
            f" OR ({t} <> '' AND NOT regexp_matches({t},"
            f" '[{WS_RANGES}]'))")
    return f"""
WITH staged AS (
  SELECT doc_id, str_split(text, chr(10)) AS ls FROM documents),
k AS (
  SELECT doc_id, ls,
         list_filter(ls, l -> NOT ({drop})) AS kept
  FROM staged),
s AS (
  SELECT doc_id, ls, kept,
         CAST(COALESCE(list_sum(list_transform(ls, l -> len(l))), 0)
              AS BIGINT) AS tot_chars,
         CAST(COALESCE(list_sum(list_transform(kept, l -> len(l))), 0)
              AS BIGINT) AS kept_chars
  FROM k)
SELECT doc_id,
       COALESCE(array_to_string(kept, chr(10)), '') AS text_clean,
       len(ls) AS n_lines,
       len(ls) - len(kept) AS n_removed_lines,
       tot_chars,
       ROUND(CASE WHEN tot_chars > 0
                  THEN (tot_chars - kept_chars) / tot_chars
                  ELSE 0.0 END, 6) AS removed_char_frac,
       (ROUND(CASE WHEN tot_chars > 0
                   THEN (tot_chars - kept_chars) / tot_chars
                   ELSE 0.0 END, 6) <= {RW_MAX_REMOVED_FRAC}) AS rw_keep
FROM s ORDER BY doc_id
"""


def _q_url_block(spark, sf):
    """URL blocklist filtering (operators/web.py url_block — the
    FineWeb/RefinedWeb UT1-style stage). The documents table has no
    URL column, so each doc gets a deterministic synthetic URL (its
    first in-text https host, else an md5-derived host — docs whose
    md5 starts with 'a' get a banned-word host so the soft-word path
    is exercised), and the blocklist is the md5-first-hex-in-0..3
    quarter of the observed domains. Both derivations are mirrored
    verbatim in the oracle. The only join is the broadcast dim."""
    return _url_block_from_docs(_t(spark, sf, "documents"))


def _url_block_from_docs(docs: DataFrame) -> DataFrame:
    from document_ai_spark.operators.web import (
        DOMAIN_PATTERN,
        HOST_RE,
        URL_PATTERN,
        url_block,
    )

    h = F.md5(F.col("doc_id").cast("string"))
    th = F.regexp_extract("text", URL_PATTERN, 1)
    host = F.when(th != "", th).otherwise(F.concat(
        F.when(F.substring(h, 1, 1) == "a", F.lit("xxx-casino-"))
         .otherwise(F.lit("site-")),
        F.substring(h, 1, 6), F.lit(".ex-"), F.substring(h, 1, 2),
        F.lit(".com")))
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("https://"), host, F.lit("/p/"),
                 F.col("doc_id").cast("string")).alias("url"))
    dom = F.regexp_extract(
        F.regexp_replace(F.regexp_extract(F.lower("url"), HOST_RE, 1),
                         r"^www\.", ""), DOMAIN_PATTERN, 1)
    bl = (urls.select(dom.alias("domain")).distinct()
          .where(F.substring(F.md5("domain"), 1, 1).isin(*"0123")))
    return url_block(urls, bl).orderBy("doc_id")


def _sql_url_block() -> str:
    from document_ai_spark.operators.web import (
        BANNED_URL_WORDS,
        URL_SOFT_MAX,
    )
    words = ", ".join(f"'{w}'" for w in BANNED_URL_WORDS)
    return f"""
WITH synth AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
         regexp_extract(text, 'https?://([A-Za-z0-9.-]+)/', 1) AS th
  FROM documents),
urls AS (
  SELECT doc_id,
         concat('https://',
                CASE WHEN th <> '' THEN th
                     ELSE concat(CASE WHEN substring(h, 1, 1) = 'a'
                                      THEN 'xxx-casino-'
                                      ELSE 'site-' END,
                                 substring(h, 1, 6), '.ex-',
                                 substring(h, 1, 2), '.com') END,
                '/p/', CAST(doc_id AS VARCHAR)) AS url
  FROM synth),
parsed AS (
  SELECT doc_id, url,
         regexp_extract(
           regexp_replace(
             regexp_extract(lower(url),
               '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
             '^www\\.', ''),
           '([A-Za-z0-9-]+\\.[A-Za-z0-9-]+)$', 1) AS domain,
         CAST(len(list_filter([{words}],
              w -> contains(lower(url), w))) AS BIGINT) AS soft_hits
  FROM urls),
bl AS (
  SELECT DISTINCT domain FROM parsed
  WHERE substring(md5(domain), 1, 1) IN ('0', '1', '2', '3'))
SELECT p.doc_id, p.url, p.domain, p.soft_hits,
       (b.domain IS NOT NULL) AS domain_blocked,
       (b.domain IS NULL AND p.soft_hits < {URL_SOFT_MAX}) AS url_keep
FROM parsed p LEFT JOIN bl b ON p.domain = b.domain
ORDER BY p.doc_id
"""


def _q_semdedup(spark, sf):
    """SemDeDup (operators/similarity.py semdedup, Abbas et al. 2023):
    IVF-cluster the embeddings, greedy intra-cluster drop of vectors
    cosine-similar to an earlier keep-order item. Near-dups planted
    exactly as embed_near_dups: a x2-scaled copy of every vector
    (cosine exactly 1) at vec_id + 1000000 — the original (lower id,
    same rounded cos-to-centroid) must win."""
    emb = _t(spark, sf, "embeddings")
    dup = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda v: v * F.lit(2.0).cast("float"))
         .alias("embedding"),
        F.col("label"))
    # k pinned: the oracle's codebook CTEs are built for IVF_K, and the
    # library's auto-k (corpus/2500) is SF-dependent — the contract
    # must hold at every test scale.
    return (S.semdedup(emb.unionByName(dup), cos_min=0.95, k=S.IVF_K)
            .orderBy("vec_id"))


def _sql_semdedup() -> str:
    cos_assign = _cos_sql("d.emb", "c.cent")
    cos_ab = _cos_sql("a.emb", "b.emb")
    parts, prev = _ivf_codebook_ctes(
        "SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings "
        "UNION ALL "
        "SELECT vec_id + 1000000, "
        "list_transform(embedding, "
        "v -> CAST(v * CAST(2.0 AS FLOAT) AS FLOAT))::DOUBLE[] "
        "FROM embeddings")
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes},
assigned AS (
  SELECT vec_id, emb, centroid_id, cos_c FROM (
    SELECT d.vec_id, d.emb, c.centroid_id,
           ROUND({cos_assign}, 6) AS cos_c,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id
                              ORDER BY ROUND({cos_assign}, 6) DESC,
                                       c.centroid_id ASC) AS rn
    FROM e d, {prev} c) WHERE rn = 1),
ordered AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY centroid_id
                               ORDER BY cos_c ASC, vec_id ASC) AS pos
  FROM assigned),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM ordered a JOIN ordered b
    ON a.centroid_id = b.centroid_id AND a.pos < b.pos
  WHERE ROUND({cos_ab}, 6) >= 0.95)
SELECT a.vec_id, a.centroid_id, a.cos_c,
       (d.vec_id IS NULL) AS sem_keep
FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
ORDER BY a.vec_id
"""


def _q_incremental_semdedup(spark, sf):
    """Incremental SemDeDup via the persisted cluster-membership index
    (operators/vector_index.py SemanticIndex): originals commit as
    batch 1, the cos-1 scaled copies as batch 2, against ONE shared
    codebook trained on the union (the production train-once path and
    what the batch oracle mirrors). Arrival order refines the batch
    keep order here (copies tie on cos_c and carry larger ids; the raw
    table has no natural >= 0.95 pairs), so the union of incremental
    verdicts equals the batch semdedup recompute — the oracle IS
    _sql_semdedup, a green row proves incremental == batch."""
    import shutil
    import tempfile

    from document_ai_spark.operators.vector_index import SemanticIndex

    emb = _t(spark, sf, "embeddings")
    dup = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda v: v * F.lit(2.0).cast("float"))
         .alias("embedding"),
        F.col("label"))
    root = tempfile.mkdtemp(prefix="sem_idx_")
    try:
        idx = SemanticIndex(root, cos_min=0.95)
        idx.codebook.ensure(spark, emb.unionByName(dup))
        v1 = idx.append_and_find(spark, emb, "b1")
        v2 = idx.append_and_find(spark, dup, "b2")
        # localCheckpoint in append_and_find materialized both.
        return v1.unionByName(v2).orderBy("vec_id").localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _q_dedup_weights(spark, sf):
    """SoftDeDup-style duplicate down-weighting (operators/dedup.py
    dedup_weights): every doc of the dup-planted corpus keeps a row;
    near-dup families (banded-LSH closure) get weight 1/|family|."""
    docs = _dup_docs(spark, sf)
    pairs = D.banded_near_dup_pairs(docs, jaccard_min=0.5)
    return D.dedup_weights(docs, pairs).orderBy("doc_id")


_SQL_DEDUP_WEIGHTS = f"""
WITH RECURSIVE
{_BANDED_PAIRS_CTE},
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
reach AS (
  SELECT DISTINCT u AS doc_id, u AS r FROM edges
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.doc_id = e.v),
cl AS (SELECT doc_id, MIN(r) AS cluster FROM reach GROUP BY doc_id),
sz AS (SELECT cluster, COUNT(*) AS n FROM cl GROUP BY cluster)
SELECT b.doc_id,
       COALESCE(cl.cluster, b.doc_id) AS cluster,
       ROUND(COALESCE(1.0 / sz.n, 1.0), 6) AS weight
FROM (SELECT doc_id FROM base) b
LEFT JOIN cl ON b.doc_id = cl.doc_id
LEFT JOIN sz ON cl.cluster = sz.cluster
ORDER BY b.doc_id
"""


def _q_strip_dup_spans(spark, sf):
    """ExactSubstr removal form (operators/curation.py strip_dup_spans,
    Lee et al. 2022): cross-doc duplicated w-token spans removed from
    every doc except the keeper (min doc_id); w=5 suits the small-vocab
    corpus exactly as dup_span_frac."""
    from document_ai_spark.operators.curation import strip_dup_spans

    return (strip_dup_spans(fan_out(_t(spark, sf, "documents")), w=_DUP_SPAN_W)
            .orderBy("doc_id"))


_SQL_STRIP_DUP_SPANS = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
base AS (
  SELECT doc_id, len(t) AS n_tokens, t,
         CASE WHEN len(t) = 0 THEN []
              ELSE list_transform(
                  generate_series(1, greatest(len(t) - {_DUP_SPAN_W - 1}, 1)),
                  i -> md5(array_to_string(
                           list_slice(t, i, i + {_DUP_SPAN_W - 1}), ' ')))
         END AS fps
  FROM toks),
win AS (
  SELECT doc_id, n_tokens,
         unnest(generate_series(1, len(fps))) AS s,
         unnest(fps) AS fp
  FROM base WHERE len(fps) > 0),
hot AS (SELECT fp, MIN(doc_id) AS keep_doc_id FROM win GROUP BY fp
        HAVING COUNT(DISTINCT doc_id) >= 2),
dp AS (
  SELECT doc_id, list(DISTINCT p) AS drop_idx
  FROM (SELECT w.doc_id,
               unnest(generate_series(w.s, least(w.s + {_DUP_SPAN_W - 1},
                                                 w.n_tokens))) AS p
        FROM win w JOIN hot h USING (fp)
        WHERE w.doc_id <> h.keep_doc_id)
  GROUP BY doc_id)
SELECT b.doc_id,
       COALESCE(array_to_string(list_filter(b.t, (x, i) ->
           NOT list_contains(COALESCE(dp.drop_idx, []), i)), ' '), '')
         AS text_dedup,
       CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CAST(len(COALESCE(dp.drop_idx, [])) AS BIGINT) AS n_removed_tokens,
       ROUND(len(COALESCE(dp.drop_idx, [])) / greatest(b.n_tokens, 1), 6)
         AS removed_frac
FROM base b LEFT JOIN dp USING (doc_id)
ORDER BY b.doc_id
"""


def _q_bloom_decontam(spark, sf):
    """Bloom-prefiltered exact decontamination (operators/curation.py
    bloom_decontaminate): the eval-registry-scale complement of the
    broadcast n-gram blocklist — the eval texts compress into a Bloom
    bitmap that rides the plan as one array literal, membership is a
    map-side expression (the corpus never shuffles), and an exact
    text-confirm join on the Bloom-positive sliver makes the output
    identical to a plain exact anti-join, which is what the oracle
    computes. Corpus = documents + verbatim copies of every 25th doc
    at shifted ids, so contamination hits both the eval originals and
    their planted exact duplicates. m_bits=2^14 keeps the plan literal
    at 256 longs for the sf test sizes."""
    from document_ai_spark.operators.curation import bloom_decontaminate

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    copies = (docs.where(F.col("doc_id") % 25 == 0)
              .select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    evals = docs.where(F.col("doc_id") % 25 == 0).select("text")
    return (bloom_decontaminate(docs.unionByName(copies), evals,
                                m_bits=1 << 14)
            .orderBy("doc_id"))


_SQL_BLOOM_DECONTAM = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
  WHERE doc_id % 25 = 0),
ev AS (SELECT DISTINCT text FROM documents
       WHERE doc_id % 25 = 0 AND text IS NOT NULL)
SELECT c.doc_id,
       NOT EXISTS (SELECT 1 FROM ev WHERE ev.text = c.text) AS keep
FROM corpus c
ORDER BY doc_id
"""


def _q_pack_interleaved(spark, sf):
    """Multimodal training-sequence packing (operators/curation.py
    pack_interleaved) over an interleaved span table synthesized
    deterministically from documents — every 3rd doc gains a media
    span plus a 1-token trailing text span, every 7th (non-3rd) doc is
    media-ONLY (zero text tokens); each media span costs a fixed
    16-token placeholder budget at this test scale (production: 576 =
    a 24x24 vision-patch grid). The oracle mirrors the span-sum token
    totals and the prefix-sum chunk math with one SUM() OVER in
    DuckDB."""
    from document_ai_spark.operators.curation import pack_interleaved

    spans = F.expr(
        "CASE WHEN pmod(doc_id, 3) = 0 THEN array("
        " named_struct('kind','text','text',text,'media_ref','',"
        "              'offset',0),"
        " named_struct('kind','media','text','','media_ref',"
        "              concat('m', doc_id),'offset',1),"
        " named_struct('kind','text','text',upper(lang),'media_ref','',"
        "              'offset',2)) "
        "WHEN pmod(doc_id, 7) = 0 THEN array("
        " named_struct('kind','media','text',cast(null as string),"
        "              'media_ref',concat('m', doc_id),'offset',0)) "
        "ELSE array(named_struct('kind','text','text',text,"
        "           'media_ref','','offset',0)) END")
    inter = (_t(spark, sf, "documents")
             .select("doc_id", spans.alias("spans")))
    return (pack_interleaved(inter, seq_len=128, media_tokens=16)
            .orderBy("doc_id"))


_SQL_PACK_INTERLEAVED = f"""
WITH base AS (
  SELECT doc_id,
         CAST(CASE
              WHEN doc_id % 3 = 0 THEN
                len({duck_tokens_sql("coalesce(text, '')")})
                + len({duck_tokens_sql("coalesce(upper(lang), '')")})
              WHEN doc_id % 7 = 0 THEN 0
              ELSE len({duck_tokens_sql("coalesce(text, '')")})
              END AS BIGINT) AS n_text_tokens,
         CAST(CASE WHEN doc_id % 3 = 0 OR doc_id % 7 = 0
              THEN 1 ELSE 0 END AS BIGINT) AS n_media
  FROM documents),
tot AS (SELECT doc_id, n_text_tokens, n_media,
               CAST(n_text_tokens + 16 * n_media AS BIGINT) AS n_tokens
        FROM base),
off AS (
  SELECT doc_id, n_text_tokens, n_media, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start_offset
  FROM tot)
SELECT doc_id, n_text_tokens, n_media, n_tokens, start_offset,
       start_offset // 128 AS chunk_id,
       start_offset % 128 AS chunk_pos,
       CAST(CASE WHEN n_tokens = 0 THEN 0
            ELSE (start_offset % 128 + n_tokens - 1) // 128 + 1 END
            AS BIGINT) AS n_chunks
FROM off ORDER BY doc_id
"""


def _q_heavy_ngrams(spark, sf):
    """Exact frequent word 3-grams (operators/mining.py heavy_ngrams):
    boilerplate discovery with a Misra-Gries-bounded shuffle. Pass 1
    folds each partition's n-gram stream through a 4096-counter MG
    summary inside ONE Arrow mapInPandas stage — the registry's single
    deliberate Python stage, because a decrement-on-overflow sketch has
    no relational form — so only O(partitions x capacity) candidate
    rows shuffle instead of one row per distinct n-gram; pass 2 counts
    the broadcast candidates exactly. The observed MG decrement total
    (the tight under-count ceiling) is asserted < min_count inside the
    plan, making the output exactly {ngram : count >= min_count}
    independent of partitioning — which is what lets the naive
    GROUP BY/HAVING oracle grade it."""
    from document_ai_spark.operators.mining import heavy_ngrams

    docs = fan_out(_t(spark, sf, "documents").select("doc_id", "text"))
    # capacity sits above the per-partition distinct-3-gram count at the
    # test SFs (sf0.01 single-partition scan: ~26k distinct; fan_out
    # only lowers the per-partition count), so the summaries are
    # decrement-free and the exactness guard passes; at production
    # thresholds (min_count in the thousands) the default capacity
    # suffices and the guard is the safety net.
    return (heavy_ngrams(docs, n=3, min_count=3, capacity=1 << 17)
            .orderBy("ngram"))


_SQL_HEAVY_NGRAMS = f"""
WITH toks AS (SELECT {_DUCK_TOKS} AS t FROM documents),
grams AS (
  SELECT unnest(list_transform(
      generate_series(1, greatest(len(t) - 2, 1)),
      i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS ngram
  FROM toks WHERE len(t) > 0)
SELECT ngram, COUNT(*) AS n_count
FROM grams GROUP BY ngram HAVING COUNT(*) >= 3
ORDER BY ngram
"""


def _q_winnow_fps(spark, sf):
    """Winnowed (minimizer) span fingerprints at the module defaults
    (operators/mining.py winnow_fps, Schleimer et al. 2003): the
    ~2/(window+1)-density subset of the every-offset w-token window
    index that still catches any cross-doc duplicated span of
    >= w + window - 1 tokens. Selection is pure per-document array
    expressions — zero exchanges before the final ORDER BY. The oracle
    mirrors the identical rightmost-min key (fp || lpad(RADIX - s)) in
    DuckDB list functions."""
    from document_ai_spark.operators.mining import winnow_fps

    docs = fan_out(_t(spark, sf, "documents").select("doc_id", "text"))
    return winnow_fps(docs).orderBy("doc_id", "s")


def _q_winnow_hot_spans(spark, sf):
    """Cross-document hot minimizers (operators/mining.py
    winnow_hot_spans): the winnowed replacement for the hot-span table —
    selected fingerprints occurring in >= 2 distinct documents, built
    from a ~(window+1)/2 x smaller aggregate input than the every-offset
    hot_span_fps. w=10/window=6 so the sf-test near-dup families (whose
    shared spans are shorter than the 20-token default) populate it."""
    from document_ai_spark.operators.mining import winnow_hot_spans

    docs = fan_out(_t(spark, sf, "documents").select("doc_id", "text"))
    return winnow_hot_spans(docs, w=10, window=6, min_docs=2).orderBy("fp")


def _sql_winnow(w: int, window: int) -> str:
    """DuckDB twin of the winnowing selection at (w, window)."""
    return f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
base AS (
  SELECT doc_id,
         CASE WHEN len(t) = 0 THEN []
              ELSE list_transform(
                  generate_series(1, greatest(len(t) - {w - 1}, 1)),
                  i -> md5(array_to_string(
                           list_slice(t, i, i + {w - 1}), ' ')))
         END AS fps
  FROM toks),
keys AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(fps)),
             i -> fps[i] || lpad(CAST(1000000000 - i AS VARCHAR), 10, '0'))
           AS ks
  FROM base WHERE len(fps) > 0),
sel AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
      generate_series(1, greatest(len(ks) - {window - 1}, 1)),
      i -> list_min(list_slice(ks, i, i + {window - 1}))))) AS k
  FROM keys)"""


_SQL_WINNOW_FPS = _sql_winnow(20, 8) + """
SELECT doc_id,
       CAST(1000000000 - CAST(substring(k, 33, 10) AS INTEGER)
            AS INTEGER) AS s,
       substring(k, 1, 32) AS fp
FROM sel ORDER BY doc_id, s
"""

_SQL_WINNOW_HOT_SPANS = _sql_winnow(10, 6) + """
SELECT substring(k, 1, 32) AS fp
FROM sel GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY fp
"""

_CONTAIN_PREFIX = "nav home about contact login "
_CONTAIN_SUFFIX = (" copyright all rights reserved sitemap terms "
                   "privacy help")


def _planted_containment_union(d):
    """docs(doc_id:string, text) + a 'c-' chrome-wrapped container for
    the deterministic ~1/16 of docs whose md5(doc_id) starts '0' — the
    ONE Python-side construction mirrored verbatim by _SQL_CONTAINMENT's
    docs2 CTE (keep the two in lockstep)."""
    d = fan_out(d)      # parallelize the winnow pipeline downstream
    planted = (d.where(F.expr("substring(md5(doc_id), 1, 1) = '0'"))
               .select(F.concat(F.lit("c-"), "doc_id").alias("doc_id"),
                       F.concat(F.lit(_CONTAIN_PREFIX), "text",
                                F.lit(_CONTAIN_SUFFIX)).alias("text")))
    return d.unionByName(planted)


def _q_containment_pairs(spark, sf):
    """Subset-duplication pairs (operators/mining.py containment_pairs):
    winnowed-fingerprint-set containment — catches a document embedded
    inside a larger one, where jaccard ~ |A|/|B| is too small for the
    MinHash band S-curve. Planted containers: for the deterministic
    ~1/16 of docs with md5(doc_id) starting '0', a 'c-' copy wraps the
    full text in nav/footer chrome; the original's interior spans all
    survive in the container, so each (doc, c-doc) pair scores near 1.
    Both engines build the identical planted union from the parquet."""
    from document_ai_spark.operators.mining import containment_pairs

    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    return (containment_pairs(_planted_containment_union(d))
            .orderBy("doc_a", "doc_b"))


def _q_incremental_containment(spark, sf):
    """k-batch INCREMENTAL containment via the persisted winnowed-fp
    index (operators/winnow_index.py): the oracle is the plain
    corpus-wide containment recompute (the same planted-container SQL
    as `containment_pairs`), so a green row proves incremental ==
    batch — each (inner, container) pair surfaces when its later
    member's batch lands, with identical shared counts and scores."""
    import shutil
    import tempfile

    from document_ai_spark.operators.winnow_index import WinnowIndex

    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    docs = _planted_containment_union(d)
    root = tempfile.mkdtemp(prefix="winnow_idx_")
    try:
        idx = WinnowIndex(root)
        parts = [docs.where(
            F.pmod(F.xxhash64("doc_id"), F.lit(3)) == i)
            for i in range(3)]
        out = None
        for i, b in enumerate(parts):
            p = idx.append_and_find(spark, b, batch_id=f"b{i}")
            out = p if out is None else out.unionByName(p)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out.orderBy("doc_a", "doc_b")


_SQL_CONTAINMENT = f"""
WITH docs2 AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
  UNION ALL
  SELECT 'c-' || CAST(doc_id AS VARCHAR) AS doc_id,
         '{_CONTAIN_PREFIX}' || text || '{_CONTAIN_SUFFIX}' AS text
  FROM documents
  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
),
toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM docs2),
base AS (
  SELECT doc_id,
         CASE WHEN len(t) = 0 THEN []
              ELSE list_transform(
                  generate_series(1, greatest(len(t) - 19, 1)),
                  i -> md5(array_to_string(
                           list_slice(t, i, i + 19), ' ')))
         END AS fpl
  FROM toks),
keys AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(fpl)),
             i -> fpl[i] || lpad(CAST(1000000000 - i AS VARCHAR), 10, '0'))
           AS ks
  FROM base WHERE len(fpl) > 0),
selarr AS (
  SELECT doc_id,
         list_distinct(list_transform(
             list_distinct(list_transform(
                 generate_series(1, greatest(len(ks) - 7, 1)),
                 i -> list_min(list_slice(ks, i, i + 7)))),
             k -> substring(k, 1, 32))) AS fps
  FROM keys),
fpr AS (SELECT doc_id, len(fps) AS n_fp, unnest(fps) AS fp
        FROM selarr WHERE len(fps) > 0),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.n_fp AS n_a, b.n_fp AS n_b, COUNT(*) AS shared
  FROM fpr a JOIN fpr b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4)
SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared_fps,
       ROUND(shared / CAST(least(n_a, n_b) AS DOUBLE), 6) AS containment
FROM pairs
WHERE ROUND(shared / CAST(least(n_a, n_b) AS DOUBLE), 6) >= 0.5
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------

_REGISTRY: dict[str, tuple] = {
    # relational / SURVEY §2 operator families
    "pricing_summary": (_q_pricing_summary, _SQL_PRICING),
    "top_orders": (_q_top_orders, _SQL_TOP_ORDERS),
    "cust_order_join": (_q_cust_order_join, _SQL_CUST_ORDER),
    "region_nation_join": (_q_region_nation_rollup, _SQL_REGION_NATION),
    "semi_join": (_q_semi_join, _SQL_SEMI),
    "anti_join": (_q_anti_join, _SQL_ANTI),
    "window_rank": (_q_window_rank, _SQL_WINDOW_RANK),
    "window_prefix_sum": (_q_window_prefix_sum, _SQL_PREFIX_SUM),
    "distinct_agg": (_q_distinct_agg, _SQL_DISTINCT),
    "set_intersect": (_q_set_intersect, _SQL_INTERSECT),
    "set_except": (_q_set_except, _SQL_EXCEPT),
    "case_bucket": (_q_case_bucket, _SQL_CASE_BUCKET),
    "json_extract": (_q_json_extract, _SQL_JSON),
    "argmax_event": (_q_argmax_event, _SQL_ARGMAX),
    "sessionize": (_q_sessionize, _SQL_SESSIONIZE),
    "rollup": (_q_rollup, _SQL_ROLLUP),
    "corpus_stats": (_q_corpus_stats, _SQL_CORPUS_STATS),
    "history_topn": (_q_history_topn, _SQL_HISTORY),
    # extraction semantics (pattern cascade on planted text)
    "pattern_find": (_q_pattern_find, _SQL_PATTERN_FIND),
    "regex_count": (_q_regex_count, _SQL_REGEX_COUNT),
    "first_match": (_q_first_match, _SQL_FIRST_MATCH),
    "hp_extract": (_q_hp_extract, _sql_hp_extract()),
    "cost_extract": (_q_cost_extract, _sql_cost_extract()),
    # text quality / fingerprinting
    "token_stats": (_q_token_stats, _SQL_TOKEN_STATS),
    "diversity_stats": (_q_diversity_stats, _SQL_DIVERSITY),
    "quality_score": (_q_quality_score, _SQL_QUALITY),
    "lang_guess": (_q_lang_guess, _sql_lang_guess()),
    "fingerprint": (_q_fingerprint, _SQL_FINGERPRINT),
    # dedup family
    "dedup_exact": (_q_dedup_exact, _SQL_DEDUP_EXACT),
    "minhash_sketch": (_q_minhash_sketch, _SQL_MINHASH),
    "near_dup_pairs": (_q_near_dup_pairs, _SQL_NEAR_DUP),
    "banded_near_dup": (_q_banded_near_dup, _SQL_BANDED_NEAR_DUP),
    "banded_near_dup_k64": (_q_banded_near_dup_k64, _SQL_BANDED_NEAR_DUP_K64),
    "simhash": (_q_simhash, _sql_simhash()),
    "ngram_jaccard": (_q_ngram_jaccard, _SQL_NGRAM_JACCARD),
    # additional §2 operator families
    "presence_any": (_q_presence_any, _SQL_PRESENCE_ANY),
    "null_skip_mean": (_q_null_skip_mean, _SQL_NULL_SKIP),
    "value_in_text": (_q_value_in_text, _SQL_VALUE_IN_TEXT),
    "cost_estimator": (_q_cost_estimator, _SQL_COST_EST),
    "arrays_overlap": (_q_arrays_overlap, _SQL_ARRAYS_OVERLAP),
    "iou_match": (_q_iou_match, _SQL_IOU),
    "recent_n": (_q_recent_n, _SQL_RECENT_N),
    "strategy_accuracy": (_q_strategy_accuracy, _SQL_STRATEGY_ACC),
    "rel_tolerance": (_q_rel_tolerance, _SQL_REL_TOL),
    "cube_agg": (_q_cube_agg, _SQL_CUBE),
    "string_surface": (_q_string_surface, _SQL_STRING_SURFACE),
    "batch_summary": (_q_batch_summary, _SQL_BATCH_SUMMARY),
    "vision_gates": (_q_vision_gates, _SQL_VISION_GATES),
    # embedding similarity
    "embed_topk": (_q_embed_topk, _SQL_EMBED_TOPK),
    "embed_lsh_topk": (_q_embed_lsh_topk, _sql_embed_lsh_topk()),
    "embed_ivf_topk": (_q_embed_ivf_topk, _sql_embed_ivf_topk()),
    "asof_join": (_q_asof_join, _SQL_ASOF),
    "embed_near_dups": (_q_embed_near_dups, _sql_embed_near_dups()),
    "embed_norms": (_q_embed_norms, _SQL_EMBED_NORMS),
    "zone_struct": (_q_zone_struct, _SQL_ZONE_STRUCT),
    "dup_clusters": (_q_dup_clusters, _SQL_DUP_CLUSTERS),
    "length_quantiles": (_q_length_quantiles, _SQL_LENGTH_QUANTILES),
    "tfidf_terms": (_q_tfidf_terms, _SQL_TFIDF),
    "pivot_events": (_q_pivot_events, _SQL_PIVOT),
    "grouping_sets": (_q_grouping_sets, _SQL_GROUPING_SETS),
    "range_join": (_q_range_join, _SQL_RANGE_JOIN),
    "time_rollup": (_q_time_rollup, _SQL_TIME_ROLLUP),
    # round-3 additions (keep registry order stable; append only)
    "token_estimate": (_q_token_estimate, _SQL_TOKEN_ESTIMATE),
    "token_budget": (_q_token_budget, _SQL_TOKEN_BUDGET),
    "incremental_near_dup": (_q_incremental_near_dup, _SQL_BANDED_NEAR_DUP),
    "curation_budget": (_q_curation_budget, _SQL_CURATION_BUDGET),
    "repetition_stats": (_q_repetition_stats, _SQL_REPETITION),
    "contamination": (_q_contamination, _SQL_CONTAMINATION),
    "explanation_summary": (_q_explanation_summary, _SQL_EXPLANATION_SUMMARY),
    "field_reasoning": (_q_field_reasoning, _SQL_FIELD_REASONING),
    "stratified_sample": (_q_stratified_sample, _SQL_STRATIFIED_SAMPLE),
    "unigram_logprob": (_q_unigram_logprob, _SQL_UNIGRAM_LOGPROB),
    # round-4 additions (registry order stays stable; append only)
    "incremental_embed_near_dup": (_q_incremental_embed_near_dup,
                                   _sql_embed_near_dups()),
    "embed_ivf_persisted": (_q_embed_ivf_persisted, _sql_embed_ivf_topk()),
    "quality_gates": (_q_quality_gates, _SQL_QUALITY_GATES),
    "logprob_floors": (_q_logprob_floors, _SQL_LOGPROB_FLOORS),
    "quality_gates_auto": (_q_quality_gates_auto, _SQL_QUALITY_GATES_AUTO),
    "dup_clusters_star": (_q_dup_clusters_star, _SQL_DUP_CLUSTERS),
    # round-5 additions (registry order stays stable; append only)
    "line_dedup": (_q_line_dedup, _SQL_LINE_DEDUP),
    "pii_scrub": (_q_pii_scrub, _sql_pii_scrub()),
    "domain_stats": (_q_domain_stats, _sql_domain_stats()),
    "dup_span_frac": (_q_dup_span_frac, _SQL_DUP_SPAN),
    "rebalance_sample": (_q_rebalance_sample, _SQL_REBALANCE),
    "url_dedup": (_q_url_dedup, _sql_url_dedup()),
    "incremental_dup_span": (_q_incremental_dup_span, _SQL_INCR_DUP_SPAN),
    "pack_sequences": (_q_pack_sequences, _SQL_PACK_SEQUENCES),
    "epoch_shuffle": (_q_epoch_shuffle, _SQL_EPOCH_SHUFFLE),
    "sketch_contamination": (_q_sketch_contamination,
                             _SQL_SKETCH_CONTAMINATION),
    "nb_quality": (_q_nb_quality, _SQL_NB_QUALITY),
    "canonical_docs": (_q_canonical_docs, _SQL_CANONICAL_DOCS),
    "intra_doc_line_dedup": (_q_intra_doc_line_dedup,
                             _SQL_INTRA_DOC_LINE_DEDUP),
    "pack_shuffled": (_q_pack_shuffled, _SQL_PACK_SHUFFLED),
    "hash_split": (_q_hash_split, _SQL_HASH_SPLIT),
    "chunk_manifest": (_q_chunk_manifest, _SQL_CHUNK_MANIFEST),
    "band_bucket_stats": (_q_band_bucket_stats, _SQL_BAND_BUCKET_STATS),
    "budget_sample": (_q_budget_sample, _SQL_BUDGET_SAMPLE),
    "corpus_overlap": (_q_corpus_overlap, _sql_corpus_overlap()),
    "gopher_rules": (_q_gopher_rules, _SQL_GOPHER_RULES),
    "perplexity_buckets": (_q_perplexity_buckets, _SQL_PERPLEXITY_BUCKETS),
    "dsir_weights": (_q_dsir_weights, _SQL_DSIR_WEIGHTS),
    "dsir_sample": (_q_dsir_sample, _SQL_DSIR_SAMPLE),
    "ngram_repetition": (_q_ngram_repetition, _sql_ngram_repetition()),
    "c4_clean": (_q_c4_clean, _sql_c4_clean()),
    "fineweb_filters": (_q_fineweb_filters, _sql_fineweb_filters()),
    "refinedweb_lines": (_q_refinedweb_lines, _sql_refinedweb_lines()),
    "url_block": (_q_url_block, _sql_url_block()),
    "semdedup": (_q_semdedup, _sql_semdedup()),
    "incremental_semdedup": (_q_incremental_semdedup, _sql_semdedup()),
    "dedup_weights": (_q_dedup_weights, _SQL_DEDUP_WEIGHTS),
    "strip_dup_spans": (_q_strip_dup_spans, _SQL_STRIP_DUP_SPANS),
    "bloom_decontam": (_q_bloom_decontam, _SQL_BLOOM_DECONTAM),
    "pack_interleaved": (_q_pack_interleaved, _SQL_PACK_INTERLEAVED),
    "heavy_ngrams": (_q_heavy_ngrams, _SQL_HEAVY_NGRAMS),
    "winnow_fps": (_q_winnow_fps, _SQL_WINNOW_FPS),
    "winnow_hot_spans": (_q_winnow_hot_spans, _SQL_WINNOW_HOT_SPANS),
    "containment_pairs": (_q_containment_pairs, _SQL_CONTAINMENT),
    "incremental_containment": (_q_incremental_containment,
                                _SQL_CONTAINMENT),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in _REGISTRY.items()
            if sql is not None}
